package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One change event as the benchmark generates it. `tokens`/`source`
  * are null for deletes. */
final case class Ev(lsn: Long, shard: Int, op: String, docId: String,
    tokens: Array[Int], source: String)

/** A seeded change-log model: every event is a pure function of
  * (seed, lsn), so the oracle can recompute any event without storing
  * the log. Owned by the benchmark: the engine's own generator can
  * change without moving the benchmark's inputs. */
sealed trait LogModel extends Serializable {
  def seed: Long

  /** Key and op of event `i` (cheap: no token draw). */
  def keyOp(i: Long): (String, String)

  def event(i: Long): Ev

  protected final def h(salt: Long, i: Long, j: Long = 0L): Long =
    Gen.mix64(Gen.mix64(Gen.mix64(seed ^ (salt * 0x632BE59BD9B4E019L)) + i) + j)

  protected final def draw(salt: Long, i: Long, bound: Long, j: Long = 0L): Long =
    java.lang.Math.floorMod(h(salt, i, j), bound)

  /** 3 to 2*avgTokens-3 tokens: every doc has at least one 3-gram, so
    * random docs are never near-duplicates of each other. */
  protected final def randomTokens(i: Long, avgTokens: Int, vocab: Int): Array[Int] = {
    val len = 3 + draw(4, i, 2L * avgTokens - 5).toInt
    Array.tabulate(len)(j => draw(5, i, vocab.toLong, j.toLong).toInt)
  }

  protected final def sourceName(i: Long): String = Gen.Sources(draw(6, i, Gen.Sources.length).toInt)

  protected final def build(i: Long, key: String, op: String, tokens: => Array[Int]): Ev =
    if (op == "D") Ev(i, Gen.shardOf(key), op, key, null, null)
    else Ev(i, Gen.shardOf(key), op, key, tokens, sourceName(i))
}

/** A phase of a [[UniformModel]]: events with lsn >= `from` (until the
  * next phase) use this op mix and hot-key skew. */
final case class Phase(from: Long, pctInsert: Int, pctUpdate: Int,
    hotPerMille: Int = 0, nHot: Int = 8)

/** Keys drawn uniformly from `nKeys` (plus an optional hot set: key
  * indices 0 until nHot). Inserts of a live key are upserts, deletes of
  * an absent key leave it absent — the engine's keyed-MERGE contract. */
final case class UniformModel(seed: Long, nKeys: Int, phases: Seq[Phase],
    avgTokens: Int = 32, vocab: Int = 50000) extends LogModel {

  private def phaseOf(i: Long): Phase = phases.filter(_.from <= i).maxBy(_.from)

  def keyOp(i: Long): (String, String) = {
    val p = phaseOf(i)
    val hot = draw(1, i, 1000) < p.hotPerMille
    val idx = if (hot) draw(2, i, p.nHot) else draw(2, i, nKeys)
    val d = draw(3, i, 100)
    val op = if (d < p.pctInsert) "I" else if (d < p.pctInsert + p.pctUpdate) "U" else "D"
    (f"k$idx%09d", op)
  }

  def event(i: Long): Ev = {
    val (key, op) = keyOp(i)
    build(i, key, op, randomTokens(i, avgTokens, vocab))
  }
}

/** Insert-heavy ingest with planted near-duplicates. Batch b covers lsns
  * [batchStarts(b), batchStarts(b+1)). Every insert creates a fresh key;
  * updates and deletes target a key inserted in an EARLIER batch, so
  * each key's insert batch holds only its insert and the engine indexes
  * exactly the inserted tokens. In batches after the first, a
  * `plantPerMille` share of inserts copies an earlier batch's plain
  * (unplanted) insert of at least `MinSourceTokens` tokens and appends
  * one token: a cross-batch near-duplicate whose token-3-gram Jaccard is
  * at least 0.9. */
final case class DedupModel(seed: Long, batchStarts: Seq[Long], pctInsert: Int,
    pctUpdate: Int, plantPerMille: Int, avgTokens: Int = 32,
    vocab: Int = 50000) extends LogModel {

  private def batchOf(i: Long): Int = batchStarts.lastIndexWhere(_ <= i)

  private def op(i: Long): String = {
    if (batchOf(i) == 0) return "I"
    val d = draw(3, i, 100)
    if (d < pctInsert) "I" else if (d < pctInsert + pctUpdate) "U" else "D"
  }

  /** Is event `i` a planted near-duplicate insert? */
  def planted(i: Long): Boolean =
    batchOf(i) > 0 && op(i) == "I" && draw(7, i, 1000) < plantPerMille

  /** An earlier-batch insert chosen by a deterministic draw chain. */
  private def earlierInsert(i: Long, salt: Long, accept: Long => Boolean): Long = {
    val bound = batchStarts(batchOf(i))
    Iterator.from(0).map(a => draw(salt, i, bound, a.toLong))
      .find(j => op(j) == "I" && accept(j)).get
  }

  /** The source event a planted insert copies. */
  def sourceOf(i: Long): Long =
    earlierInsert(i, 8, j => !planted(j) &&
      3 + draw(4, j, 2L * avgTokens - 5) >= DedupModel.MinSourceTokens)

  def keyOf(i: Long): String = f"n$i%010d"

  /** The insert event that created `key`. */
  def insertOf(key: String): Long = key.drop(1).toLong

  def keyOp(i: Long): (String, String) = op(i) match {
    case "I" => (keyOf(i), "I")
    case o => (keyOf(earlierInsert(i, 9, _ => true)), o)
  }

  def event(i: Long): Ev = {
    val (key, o) = keyOp(i)
    build(i, key, o,
      if (planted(i)) randomTokens(sourceOf(i), avgTokens, vocab) :+ draw(10, i, vocab).toInt
      else randomTokens(i, avgTokens, vocab))
  }
}

object DedupModel {
  val MinSourceTokens = 20
}

/** A log on disk: segments in lsn order, each `filesPerSegment` parquet
  * files named seg-SSSSS-pFF.parquet. One segment is one micro-batch
  * when the replay caps files per trigger at `filesPerSegment`. */
final case class LogSpec(model: LogModel, segments: Seq[(Long, Long)], filesPerSegment: Int)

object Gen {
  /** Bumped whenever generated bytes change; part of the cache key. */
  val Version = 2
  val Sources: Array[String] = Array("cc", "wiki", "code", "books")
  val Shards = 32
  val CacheEntries = 3

  /** The change-log schema the engine reads (`graft.model.ChangeLog`),
    * written out here so the inputs stay fixed if the engine's copy moves. */
  val schema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", LongType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def shardOf(key: String): Int = java.lang.Math.floorMod(MurmurHash3.stringHash(key, 17), Shards)

  def toRow(e: Ev): Row = Row(e.shard, e.lsn, e.op, e.docId,
    if (e.tokens == null) null else e.tokens.toSeq,
    if (e.tokens == null) null else java.lang.Long.valueOf(e.tokens.length.toLong),
    e.source, null)

  /** Exact Jaccard of the distinct token-3-gram sets of two docs. */
  def jaccard3(a: Array[Int], b: Array[Int]): Double = {
    def grams(t: Array[Int]): Set[(Int, Int, Int)] =
      t.sliding(3).filter(_.length == 3).map(g => (g(0), g(1), g(2))).toSet
    val (ga, gb) = (grams(a), grams(b))
    val union = (ga ++ gb).size
    if (union == 0) 1.0 else (ga intersect gb).size.toDouble / union
  }

  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  private def fileSha(f: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      Iterator.continually(in.read(buf)).takeWhile(_ >= 0).foreach(n => md.update(buf, 0, n))
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  /** A materialised, checksum-verified log in the input cache. */
  final case class Cached(dir: File, checksum: String, bytes: Long) {
    def files: Seq[File] = dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
    def segmentFiles(seg: Int): Seq[File] = files.filter(_.getName.startsWith(f"seg-$seg%05d-"))
  }

  /** The log for `spec`, generated once per (seed, parameters) and reused
    * after its checksums verify. The cache keeps the newest
    * [[CacheEntries]] logs. */
  def cached(spark: SparkSession, cacheRoot: File, spec: LogSpec): Cached = {
    val key = sha256Hex(s"v$Version|$spec".getBytes("UTF-8")).take(24)
    val dir = new File(cacheRoot, key)
    verify(dir).getOrElse {
      val tmp = new File(cacheRoot, s".tmp-$key-${ProcessHandle.current().pid()}")
      Host.deleteRecursively(tmp)
      write(spark, spec, tmp)
      Host.deleteRecursively(dir)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
      evict(cacheRoot, keep = dir)
      verify(dir).getOrElse(throw new IllegalStateException(s"generated log at $dir fails its checksums"))
    }
  }

  private def verify(dir: File): Option[Cached] = {
    val manifest = new File(dir, "manifest.tsv")
    if (!manifest.isFile) return None
    val text = new String(Files.readAllBytes(manifest.toPath), "UTF-8")
    val ok = text.linesIterator.forall { line =>
      val Array(name, size, sha) = line.split("\t")
      val f = new File(dir, name)
      f.isFile && f.length == size.toLong && fileSha(f) == sha
    }
    if (!ok) None
    else {
      dir.setLastModified(System.currentTimeMillis())
      val bytes = text.linesIterator.map(_.split("\t")(1).toLong).sum
      Some(Cached(dir, sha256Hex(text.getBytes("UTF-8")), bytes))
    }
  }

  private def evict(cacheRoot: File, keep: File): Unit =
    cacheRoot.listFiles().filter(d => d.isDirectory && !d.getName.startsWith(".") && d != keep)
      .sortBy(-_.lastModified).drop(CacheEntries - 1).foreach(Host.deleteRecursively)

  /** Write the whole log in one job: one task per file, each task a
    * contiguous lsn range of its segment. */
  private def write(spark: SparkSession, spec: LogSpec, dir: File): Unit = {
    dir.mkdirs()
    val model = spec.model
    val parts = for {
      ((lo, hi), seg) <- spec.segments.zipWithIndex
      p <- 0 until spec.filesPerSegment
      n = hi - lo
    } yield (seg, p, lo + n * p / spec.filesPerSegment, lo + n * (p + 1) / spec.filesPerSegment)
    require(parts.forall(x => x._4 > x._3), s"every file of $spec needs at least one event")
    val rows = spark.sparkContext.parallelize(parts.map(x => (x._3, x._4)), parts.size)
      .flatMap { case (a, b) => (a until b).iterator.map(i => toRow(model.event(i))) }
    val out = new File(dir, ".parts")
    spark.createDataFrame(rows, schema).write.parquet(out.getPath)
    val written = out.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    require(written.length == parts.size, s"expected ${parts.size} log files, got ${written.length}")
    written.zip(parts).foreach { case (f, (seg, p, _, _)) =>
      Files.move(f.toPath, new File(dir, f"seg-$seg%05d-p$p%02d.parquet").toPath)
    }
    Host.deleteRecursively(out)
    val lines = dir.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}\t${f.length}\t${fileSha(f)}")
    Files.write(new File(dir, "manifest.tsv").toPath, lines.mkString("\n").getBytes("UTF-8"))
  }

  /** Copy segment files into a replay's log directory, named
    * `prefix` + their cache name, with modification time `mtime`: the
    * file source admits segments in modification-time order. Returns
    * the bytes staged. */
  def stage(files: Seq[File], logDir: File, mtime: Long, prefix: String = ""): Long = {
    logDir.mkdirs()
    files.map { f =>
      val to = new File(logDir, prefix + f.getName)
      Files.copy(f.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
      to.setLastModified(mtime)
      to.length
    }.sum
  }
}
