package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark itself: its inputs, its oracle, its metric
  * names, and one short run of every workload. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val scratch = Files.createTempDirectory(new File("target").getAbsoluteFile.toPath, "spec-").toFile
  private lazy val spark: SparkSession = Session.start(2, new File(scratch, "spark-local"))

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    Host.deleteRecursively(scratch)
  }

  private def spec(seed: Long): LogSpec = LogSpec(
    UniformModel(seed, 500, Seq(Phase(0, 60, 30), Phase(1500, 10, 80, hotPerMille = 50))),
    Seq((0L, 1500L), (1500L, 2000L)), 2)

  test("the same seed gives the same input checksum, another seed another") {
    val a = Gen.cached(spark, new File(scratch, "cache-a"), spec(7))
    val b = Gen.cached(spark, new File(scratch, "cache-b"), spec(7))
    val c = Gen.cached(spark, new File(scratch, "cache-c"), spec(8))
    assert(a.checksum == b.checksum)
    assert(a.checksum != c.checksum)
    assert(a.files.map(_.getName) == Seq(
      "seg-00000-p00.parquet", "seg-00000-p01.parquet", "seg-00001-p00.parquet", "seg-00001-p01.parquet"))
    // a second request is served from the cache, verified, unchanged
    assert(Gen.cached(spark, new File(scratch, "cache-a"), spec(7)).checksum == a.checksum)
  }

  test("the generated log holds exactly the model's events") {
    val log = Gen.cached(spark, new File(scratch, "cache-a"), spec(7))
    val rows = spark.read.schema(Gen.schema).parquet(log.files.map(_.getPath): _*).collect()
    assert(rows.length == 2000)
    val model = spec(7).model
    rows.foreach { r =>
      val e = model.event(r.getAs[Long]("lsn"))
      assert(r.getAs[String]("doc_id") == e.docId && r.getAs[String]("op") == e.op)
    }
  }

  test("the oracle catches a planted wrong row, a lost row and a wrong point read") {
    val model = spec(7).model
    val oracle = new Oracle(model)
    oracle.apply(0, 2000)
    val rows = oracle.liveKeys.flatMap(oracle.lookup).toVector.sortBy(_.docId)
    assert(rows.nonEmpty)
    assert(Oracle.checkChecksums(oracle.checksums, Checksums.of(rows.iterator)).isEmpty)
    val victim = rows(rows.size / 2)
    val wrong = victim.copy(tokens = victim.tokens.updated(0, victim.tokens.head + 1))
    assert(Oracle.checkChecksums(oracle.checksums,
      Checksums.of(rows.updated(rows.size / 2, wrong).iterator)).nonEmpty)
    assert(Oracle.checkChecksums(oracle.checksums, Checksums.of(rows.tail.iterator)).nonEmpty)
    assert(Oracle.checkChecksums(oracle.checksums, Checksums.of((rows :+ rows.head).iterator)).nonEmpty)

    import spark.implicits._
    def asRows(ds: Seq[DocState]) = Checksums.userCols(
      ds.map(d => (d.docId, d.tokens, d.nTok, d.source)).toDF("doc_id", "tokens", "n_tok", "source"))
      .collect().toSeq
    val keys = Seq(victim.docId, "k999999999")
    assert(Oracle.checkRead(oracle, keys, asRows(Seq(victim))).isEmpty)
    assert(Oracle.checkRead(oracle, keys, asRows(Seq(wrong))).nonEmpty)
    assert(Oracle.checkRead(oracle, keys, asRows(Nil)).nonEmpty)
  }

  test("planted near-duplicates copy an earlier batch's insert at Jaccard >= 0.9") {
    val m = DedupModel(3, Seq(0L, 1000L, 2000L), 80, 15, 50)
    val planted = (1000L until 3000L).filter(m.planted)
    assert(planted.nonEmpty)
    planted.foreach { i =>
      val src = m.sourceOf(i)
      assert(src < (if (i < 2000) 1000 else 2000) && !m.planted(src))
      assert(Gen.jaccard3(m.event(i).tokens, m.event(src).tokens) >= 0.9)
    }
  }

  test("metric names are well formed and match BENCHMARK.json") {
    val names = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    assert(names.forall(_.matches(Metrics.NamePattern)), names)
    assert(names.distinct.size == names.size)
    implicit val formats: Formats = DefaultFormats
    val bench = JsonMethods.parse(new File("../BENCHMARK.json"))
    def listed(key: String) = (bench \ key).extract[Seq[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString)
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
    assert((bench \ "workloads").extract[Seq[Map[String, String]]].map(_("name")) == Main.Workloads)
  }

  for (w <- Main.Workloads; trace <- Seq(false, true))
    test(s"a short ${if (trace) "traced" else "untraced"} run of $w passes its correctness gate") {
      SparkSession.getActiveSession.foreach(_.stop())
      val run = new Run(new File(scratch, "root"), w, 5, 1, trace, 4)
      val out = JsonMethods.parse(Main.execute(run))
      assert((out \ "correct") == JBool(true), run.errors)
      assert((out \ "failed") == JInt(0))
      val expected = (if (trace) Metrics.PerLayer else Metrics.EndToEnd).map(_._1)
      val JObject(metrics) = out \ "metrics"
      assert(metrics.map(_._1) == expected)
      if (!trace) metrics.foreach { case (n, m) =>
        assert((m \ "value").asInstanceOf[JDouble].num > 0, n)
      }
    }
}
