package perfbench

import java.io.File

import scala.collection.mutable

import graft.lake.{Ivm, LakeTable}
import graft.model.DedupSpec
import graft.stream.{Replay, ReplayMetrics}
import org.apache.spark.sql.{Row, SparkSession}

/** What one iteration of a workload's closed loop measured. */
final case class Sample(traced: Boolean, replayS: Double, readS: Seq[Double], syncS: Seq[Double],
    events: Long, writtenBytes: Long, inputBytes: Long,
    currentS: Double = 0, gcS: Double = 0, fenced: Long = 0, dropped: Long = 0,
    probed: Long = 0, recall: Double = 0, cowBuckets: Int = 0, morBuckets: Int = 0,
    rowsWritten: Long = 0, docsChanged: Long = 0, deltaChainMax: Int = 0)

object Session {
  /** Table buckets: what `LakeTable.suggestBuckets` picks for these
    * tables (tens of thousands of live rows on 4 cores). */
  val Buckets = 16

  /** A local session with `cores` task threads; Spark's scratch space
    * stays under `localDir`. */
  def start(cores: Int, localDir: File): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // = nBuckets: the merge output is then bucket-aligned at every core count
      .config("spark.sql.shuffle.partitions", Buckets.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", localDir.getPath)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1).count()
    s
  }
}

/** One run of one workload: inputs, set-up, the timed closed loop and
  * the correctness gate. Subclasses define the inputs and one iteration. */
abstract class Workload(val run: Run) {
  import run._

  /** Untimed: generate (or reuse) inputs and build the oracle. */
  def prepare(): Unit

  /** Timed as set-up: warm-up and any base state. Runs several times. */
  def setup(rep: Int): Unit

  /** One closed-loop iteration: replay, point read, view sync, checks. */
  def iteration(k: Int, traced: Boolean): Sample

  /** More iterations possible (inputs not exhausted)? */
  def more(k: Int): Boolean = true

  /** Untimed checks of the final state. */
  def finish(): Unit

  // ------------------------------------------------------------ helpers

  protected def dir(name: String): File = new File(work, name)

  protected def fresh(name: String): File = {
    val d = dir(name)
    Host.deleteRecursively(d)
    d
  }

  /** Stage a cached log's segments into `logDir`, older segments with
    * older modification times, so the file source admits them in order. */
  protected def stageLog(log: Gen.Cached, segments: Range, logDir: File): Long = {
    val base = System.currentTimeMillis() - 3600 * 1000L
    segments.map(s => Gen.stage(log.segmentFiles(s), logDir, base + s * 1000L)).sum
  }

  /** One traced-or-not replay call: (table, seconds, engine counters, GC seconds). */
  protected def replay(k: Int, traced: Boolean, logDir: File, tableDir: File, cpDir: File,
      maxFiles: Int, feeds: Boolean, dedup: Option[DedupSpec]): (LakeTable, Double, ReplayMetrics, Double) = {
    val m = if (traced) Some(new ReplayMetrics) else None
    val gc0 = Host.gcSeconds()
    val (t, sec) = tracer.span(s"replay:$k") {
      Replay.replay(spark, logDir.getPath, tableDir.getPath, cpDir.getPath,
        nBuckets = Session.Buckets, maxFilesPerTrigger = maxFiles,
        changelog = feeds, preimages = feeds, dedup = dedup, metrics = m)
    }
    (t, sec, m.getOrElse(new ReplayMetrics), Host.gcSeconds() - gc0)
  }

  /** Timed `LakeTable.current` of a freshly opened reader (traced runs only). */
  protected def openCurrent(k: Int, traced: Boolean, tableDir: File): Double =
    if (!traced) 0.0
    else tracer.span(s"current:$k")(LakeTable.load(spark, tableDir.getPath).current)._2

  /** Point reads per iteration: enough samples for a steady median. */
  protected def reads: Int

  /** Timed point reads of seeded keys, each through a freshly opened
    * reader and checked against the oracle. */
  protected def pointReads(k: Int, tableDir: File, oracle: Oracle, hot: Seq[String]): Seq[Double] =
    (0 until reads).map(r => pointRead(k, r, tableDir, oracle, hot))

  /** Point read number `r` of iteration `k`; returns its seconds. */
  protected def pointRead(k: Int, r: Int, tableDir: File, oracle: Oracle, hot: Seq[String]): Double = {
    val keys = oracle.sampleKeys(Sizes.ReadKeys, (seed * 1000 + k) * 100 + r, hot)
    op("readKeys") {
      val (rows, sec) = tracer.span(s"read:$k") {
        Checksums.userCols(LakeTable.load(spark, tableDir.getPath).readKeys(keys)).collect().toSeq
      }
      check("readKeys", Oracle.checkRead(oracle, keys, rows))
      sec
    }.getOrElse(Double.NaN)
  }

  /** Timed view sync; returns (view rows, seconds). */
  protected def sync(k: Int, table: LakeTable, aggDir: File): (Seq[Row], Double) =
    op("Ivm.sync") {
      tracer.span(s"sync:$k")(Ivm.sync(table, aggDir.getPath).collect().toSeq)
    }.getOrElse((Nil, Double.NaN))

  /** Snapshot diff: (COW buckets, MOR buckets, rows written, longest delta chain). */
  protected def diff(before: Seq[LakeTable.DataFile], after: LakeTable.Snapshot): (Int, Int, Long, Int) = {
    val old = before.map(_.path).toSet
    val added = after.files.filterNot(f => old(f.path))
    (added.filter(!_.delta).map(_.bucket).distinct.size,
      added.filter(_.delta).map(_.bucket).distinct.size,
      added.map(_.rows).sum,
      after.files.filter(_.delta).groupBy(_.bucket).values.map(_.size).maxOption.getOrElse(0))
  }

  /** Distinct keys per batch, summed: the docs a replay of these
    * lsn ranges changes. */
  protected def docsChanged(model: LogModel, batches: Seq[(Long, Long)]): Long =
    batches.map { case (lo, hi) =>
      val keys = mutable.HashSet.empty[String]
      var i = lo
      while (i < hi) { keys += model.keyOp(i)._1; i += 1 }
      keys.size.toLong
    }.sum

  protected def finalChecks(oracle: Oracle, tableDir: File, views: Seq[Seq[Row]]): Unit = {
    op("final table") {
      val t = LakeTable.load(spark, tableDir.getPath).read()
      check("final table", Oracle.checkTable(oracle, t))
      views.foreach(v => check("IVM view", Oracle.checkView(oracle, v, t)))
    }
  }
}

object Sizes {
  val Keys = 50000
  val FilesPerSegment = 4
  val WarmEvents = 4000L
  val ReadKeys = 100
}

/** Steady-state tailing: a base table, then small update-heavy
  * increments appended to the same log and checkpoint, each applied by
  * one AvailableNow replay with both change feeds on. */
final class CdcTail(run: Run) extends Workload(run) {
  import run._
  protected val reads = 3
  val BaseEvents = 50000L
  /** About 50 changed docs per bucket against about 1,750 live rows:
    * every bucket stays well under the 5% merge-on-read threshold, so
    * which buckets take a delta does not depend on the seed. */
  val Increment = 800L
  val MaxIncrements = 12
  /** Independent copies of the default view, each synced once per
    * increment: more samples of the same incremental sync. */
  val Views = 2

  private val model = UniformModel(seed, Sizes.Keys,
    Seq(Phase(0, 60, 30), Phase(BaseEvents, 10, 80, hotPerMille = 50, nHot = 8)))
  private val baseSpec = LogSpec(model, Seq((0L, BaseEvents)), Sizes.FilesPerSegment)
  private val incs = (0 until MaxIncrements).map(k => (BaseEvents + k * Increment, BaseEvents + (k + 1) * Increment))
  private val incSpec = LogSpec(model, incs, 1)
  private val hotKeys = (0 until 8).map(i => f"k$i%09d")
  private val oracle = new Oracle(model)
  private var base: Gen.Cached = _
  private var incLog: Gen.Cached = _
  private var table: LakeTable = _
  private var lastViews: Seq[Seq[Row]] = Nil

  def prepare(): Unit = {
    base = Gen.cached(spark, cache, baseSpec)
    incLog = Gen.cached(spark, cache, incSpec)
    oracle.apply(0, incs.head._2)
    notes("input_checksum") = Gen.sha256Hex((base.checksum + incLog.checksum).getBytes("UTF-8"))
  }

  /** Base build and initial views, then the first increment as warm-up:
    * it runs the same merge, feed, view and read paths every timed
    * increment runs. */
  def setup(rep: Int): Unit = {
    val logDir = fresh("log")
    stageLog(base, 0 until 1, logDir)
    val baseTable = Replay.replay(spark, logDir.getPath, fresh("table").getPath, fresh("cp").getPath,
      nBuckets = Session.Buckets, changelog = true, preimages = true)
    (0 until Views).foreach(v => Ivm.sync(baseTable, fresh(s"agg-$v").getPath).collect())
    Gen.stage(incLog.segmentFiles(0), logDir, System.currentTimeMillis(), "inc-")
    table = Replay.replay(spark, logDir.getPath, dir("table").getPath, dir("cp").getPath,
      nBuckets = Session.Buckets, changelog = true, preimages = true)
    (0 until Views).foreach(v => Ivm.sync(table, dir(s"agg-$v").getPath).collect())
    LakeTable.load(spark, dir("table").getPath).readKeys(oracle.sampleKeys(Sizes.ReadKeys, seed, hotKeys)).collect()
  }

  override def more(k: Int): Boolean = k + 1 < MaxIncrements

  def iteration(k: Int, traced: Boolean): Sample = {
    val (lo, hi) = incs(k + 1)
    val inputBytes = Gen.stage(incLog.segmentFiles(k + 1), dir("log"), System.currentTimeMillis(), "inc-")
    val written0 = Host.dirBytes(dir("table")) + Host.dirBytes(dir("cp"))
    val before = table.current
    val res = op("Replay.replay") {
      replay(k, traced, dir("log"), dir("table"), dir("cp"), Int.MaxValue, feeds = true, dedup = None)
    }
    oracle.apply(lo, hi)
    res.map { case (t, sec, m, gc) =>
      table = t
      val snap = t.current
      val rows = snap.lineage.filter(_.batchId == snap.batchId).map(_.rows).sum
      if (snap.batchId != before.batchId + 1 || rows != hi - lo)
        check("increment", Seq(s"increment ${k + 1}: batch ${before.batchId} -> ${snap.batchId}, " +
          s"$rows of ${hi - lo} events applied"))
      val cur = openCurrent(k, traced, dir("table"))
      val readS = pointReads(k, dir("table"), oracle, hotKeys)
      val syncs = (0 until Views).map(v => sync(k, t, dir(s"agg-$v")))
      lastViews = syncs.map(_._1)
      val (cow, mor, written, chain) = diff(before.files, snap)
      Sample(traced, sec, readS, syncs.map(_._2), hi - lo,
        Host.dirBytes(dir("table")) + Host.dirBytes(dir("cp")) - written0, inputBytes,
        cur, gc, m.fencedBatches.get, cowBuckets = cow, morBuckets = mor, rowsWritten = written,
        docsChanged = if (traced) docsChanged(model, Seq((lo, hi))) else 0L, deltaChainMax = chain)
    }.getOrElse(Sample(traced, Double.NaN, Nil, Nil, hi - lo, 0, inputBytes))
  }

  def finish(): Unit = finalChecks(oracle, dir("table"), lastViews)
}

/** Insert-heavy replay in three batches with dedup admission on; later
  * batches carry planted cross-batch near-duplicates. */
final class DedupIngest(run: Run) extends Workload(run) {
  import run._
  import DedupIngest.Dedup
  /** Point reads and view builds per iteration, alternated, so both
    * medians span the same stretch of the run. */
  protected val reads = 12
  val Events = 12000L
  val Batches = 3

  private val starts = (0 until Batches).map(b => Events * b / Batches)
  private val model = DedupModel(seed, starts, pctInsert = 80, pctUpdate = 15, plantPerMille = 50)
  private val batches = starts.zip(starts.tail :+ Events)
  private val spec = LogSpec(model, batches, Sizes.FilesPerSegment)
  private val warmDedup = LogSpec(
    DedupModel(seed ^ 0x5eed, Seq(0L, Sizes.WarmEvents / 2), 80, 15, 50),
    (0 until 2).map(b => (Sizes.WarmEvents * b / 2, Sizes.WarmEvents * (b + 1) / 2)), Sizes.FilesPerSegment)
  private val oracle = new Oracle(model)
  private var log: Gen.Cached = _
  private var warm: Gen.Cached = _
  private var planted: Set[String] = Set.empty
  private var probed = 0L
  private var changed = 0L
  private var lastTable: File = _
  private var lastView: Seq[Row] = Nil

  def prepare(): Unit = {
    log = Gen.cached(spark, cache, spec)
    warm = Gen.cached(spark, cache, warmDedup)
    stageLog(log, batches.indices, dir("log"))
    oracle.apply(0, Events)
    val plantedIdx = (starts(1) until Events).filter(model.planted)
    planted = plantedIdx.map(model.keyOf).toSet
    val minJ = plantedIdx.map(i => Gen.jaccard3(model.event(i).tokens, model.event(model.sourceOf(i)).tokens))
      .minOption.getOrElse(1.0)
    require(minJ >= 0.9, s"planted pair with Jaccard $minJ < 0.9")
    notes("planted_pairs") = planted.size.toString
    notes("planted_min_jaccard") = f"$minJ%.4f"
    probed = (starts(1) until Events).count(i => model.keyOp(i)._2 == "I").toLong
    changed = docsChanged(model, batches)
    notes("input_checksum") = log.checksum
  }

  /** A 2-batch dedup replay of the small warm log, then a view build
    * and a point read of its table, so every timed path starts warm. */
  def setup(rep: Int): Unit = {
    val logDir = dir("warm-log")
    if (!logDir.exists) stageLog(warm, 0 until 2, logDir)
    val t = Replay.replay(spark, logDir.getPath, fresh(s"warm-table-$rep").getPath,
      fresh(s"warm-cp-$rep").getPath, nBuckets = Session.Buckets,
      maxFilesPerTrigger = Sizes.FilesPerSegment,
      dedup = Some(Dedup.copy(indexDir = fresh(s"warm-index-$rep").getPath)))
    Ivm.sync(t, fresh(s"warm-agg-$rep").getPath).collect()
    LakeTable.load(spark, t.root).readKeys(Seq(model.keyOf(0))).collect()
    Host.deleteRecursively(new File(t.root))
  }

  def iteration(k: Int, traced: Boolean): Sample = {
    if (lastTable != null)
      Seq(lastTable, dir(s"cp-${k - 1}"), dir(s"agg-${k - 1}"), dir(s"index-${k - 1}")).foreach(Host.deleteRecursively)
    val (tableDir, cpDir, aggDir, indexDir) = (fresh(s"table-$k"), fresh(s"cp-$k"), fresh(s"agg-$k"), fresh(s"index-$k"))
    lastTable = tableDir
    val dx = Dedup.copy(indexDir = indexDir.getPath)
    val res = op("Replay.replay") {
      replay(k, traced, dir("log"), tableDir, cpDir, Sizes.FilesPerSegment, feeds = false, dedup = Some(dx))
    }
    res.map { case (table, sec, m, gc) =>
      val snap = table.current
      if (snap.batchId != Batches - 1)
        check("replay", Seq(s"expected batch ${Batches - 1} committed, found ${snap.batchId}"))
      val drops = droppedPairs(indexDir)
      val dropped = drops.keySet
      val wrong = drops.filter { case (d, dupOf) =>
        !planted(d) && Gen.jaccard3(model.event(model.insertOf(d)).tokens,
          model.event(model.insertOf(dupOf)).tokens) < Dedup.threshold
      }
      if (wrong.nonEmpty) check("dedup", Seq(s"${wrong.size} docs dropped below the threshold, e.g. ${wrong.head}"))
      val recall = (dropped intersect planted).size.toDouble / planted.size.max(1)
      if (recall < DedupIngest.MinRecall)
        check("dedup", Seq(f"recall $recall%.4f below ${DedupIngest.MinRecall}"))
      oracle.suppress(dropped)
      val cur = openCurrent(k, traced, tableDir)
      val hot = planted.toSeq.sorted
      // a fresh view per sync: the initial build, repeated for a steady median
      val (readS, syncs) = (0 until reads).map { r =>
        (pointRead(k, r, tableDir, oracle, hot), sync(k, table, new File(aggDir, s"view-$r")))
      }.unzip
      lastView = syncs.last._1
      val (cow, mor, rows, chain) = diff(Nil, snap)
      Sample(traced, sec, readS, syncs.map(_._2), Events,
        Host.dirBytes(tableDir) + Host.dirBytes(cpDir) + Host.dirBytes(indexDir), log.bytes,
        cur, gc, m.fencedBatches.get, m.dedupDroppedDocs.get, probed, recall, cow, mor, rows, changed, chain)
    }.getOrElse(Sample(traced, Double.NaN, Nil, Nil, Events, 0, log.bytes))
  }

  /** The engine's audit store of dropped docs: doc_id -> dup_of. */
  private def droppedPairs(indexDir: File): Map[String, String] = {
    val store = new File(indexDir, "dropped")
    if (!store.isDirectory) Map.empty
    else spark.read.parquet(store.getPath).select("doc_id", "dup_of").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  def finish(): Unit = finalChecks(oracle, lastTable, Seq(lastView))
}

object DedupIngest {
  val Dedup: DedupSpec = DedupSpec("", threshold = 0.8, n = 3, k = 16, bands = 4, compactEvery = 2)

  /** Planted pairs have Jaccard >= 0.9 against a 0.8 threshold; 4 bands
    * of 4 rows find such a pair with probability above 0.98. */
  val MinRecall = 0.9
}
