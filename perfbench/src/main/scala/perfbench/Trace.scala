package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer attribution for a traced run.
  *
  * The benchmark tags every call it makes into the engine with a span
  * (a Spark local property the engine's jobs inherit, including the
  * streaming query thread). A [[SparkListener]] keeps each completed
  * stage with its span; a [[StreamingQueryListener]] keeps each
  * trigger's `durationMs`. Spark stamps every stage of a streaming
  * query with the query's start call site, so the engine layer is taken
  * from a [[Sampler]] instead: it samples the query thread's stack every
  * few milliseconds, and a stage belongs to the layer of the innermost
  * `graft.<layer>` frame the thread sat in while the stage ran. All of it
  * stays in memory until the metrics are computed. */
object Trace {
  val SpanProperty = "perfbench.span"
  val Layers: Seq[String] = Seq("stream", "apply", "lake", "operators")

  final case class StageRec(span: String, submitted: Long, completed: Long, runMs: Long,
      inputBytes: Long, outputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long)

  final case class JobRec(span: String, time: Long)

  /** One stack sample of the query thread: engine layer of its innermost
    * `graft.` frame ("spark" when there is none) and every engine method
    * on the stack. */
  final case class StackSample(time: Long, layer: String, methods: Set[String])

  final case class TriggerRec(startMs: Long, triggerMs: Long, addBatchMs: Long)

  /** The engine layer of a stack: the package of its innermost engine
    * frame (`graft.<layer>`), or "spark" when no engine frame is on it. */
  def layerOf(stack: Seq[StackTraceElement]): String =
    stack.map(_.getClassName).collectFirst {
      case c if c.startsWith("graft.") => c.split('.')(1)
    }.map(l => if (Layers.contains(l)) l else "other").getOrElse("spark")

  final class Recorder extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val markers = new AtomicLong(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).getOrElse("")
      if (span == "marker") markers.incrementAndGet()
      e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
      jobs.add(JobRec(span, e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null && s.submissionTime.isDefined && s.completionTime.isDefined)
        stages.add(StageRec(
          Option(stageSpan.get(s.stageId)).getOrElse(""),
          s.submissionTime.get, s.completionTime.get, m.executorRunTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  final class Progress extends StreamingQueryListener {
    val triggers = new ConcurrentLinkedQueue[TriggerRec]()
    val terminated = new AtomicLong(0)

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      triggers.add(TriggerRec(java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch")))
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
  }

  /** Length of the union of `[lo, hi)` intervals clipped to `[from, to)`. */
  def unionMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a max from, b min to) }.filter(x => x._1 < x._2).sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Samples the stack of the engine's streaming query thread. */
  final class Sampler(threadPrefix: String, everyMs: Long) extends Thread("perfbench-sampler") {
    setDaemon(true)
    val samples = new ConcurrentLinkedQueue[StackSample]()
    @volatile private var running = true
    private var target: Option[Thread] = None

    override def run(): Unit = while (running) {
      if (!target.exists(_.isAlive))
        target = find()
      target.foreach { t =>
        val stack = t.getStackTrace.toSeq
        if (stack.nonEmpty)
          samples.add(StackSample(System.currentTimeMillis(), layerOf(stack),
            stack.filter(_.getClassName.startsWith("graft.")).map(_.getMethodName).toSet))
      }
      Thread.sleep(everyMs)
    }

    def finish(): Unit = { running = false; join() }

    private def find(): Option[Thread] = {
      var g = Thread.currentThread.getThreadGroup
      while (g.getParent != null) g = g.getParent
      val all = new Array[Thread](g.activeCount() * 2 + 16)
      all.take(g.enumerate(all, true)).find(_.getName.startsWith(threadPrefix))
    }
  }
}

/** Tracing for one workload run: spans around the benchmark's calls,
  * plus the listeners while tracing is on. */
final class Tracer(spark: SparkSession) {
  import Trace._

  val recorder = new Recorder
  val progress = new Progress
  val samples = scala.collection.mutable.ArrayBuffer.empty[StackSample]
  private var sampler: Sampler = _
  private var on = false
  private var replayCalls = 0L

  /** Replay spans (name, start ms, end ms) of traced calls. */
  val replaySpans = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(recorder)
    spark.streams.addListener(progress)
    sampler = new Sampler("stream execution thread for graft-replay", 5)
    sampler.start()
    on = true
  }

  def stop(): Unit = if (on) {
    drain()
    sampler.finish()
    samples ++= sampler.samples.asScala
    spark.sparkContext.removeSparkListener(recorder)
    spark.streams.removeListener(progress)
    on = false
  }

  /** Run `body` under span `name`; returns (result, seconds). */
  def span[A](name: String)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - n0) / 1e9)
    } finally {
      sc.setLocalProperty(SpanProperty, prev)
      if (on && name.startsWith("replay")) {
        replaySpans += ((name, t0, System.currentTimeMillis()))
        replayCalls += 1
      }
    }
  }

  /** Wait until every event posted so far has reached the listeners:
    * listener queues are FIFO, so a marker job's start and each replay
    * call's query termination mark the end of what came before. */
  private def drain(): Unit = {
    val want = recorder.markers.get + 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SpanProperty, prev)
    val deadline = System.currentTimeMillis() + 20000
    while ((recorder.markers.get < want || progress.terminated.get < replayCalls) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def stages(prefix: String): Seq[StageRec] =
    recorder.stages.asScala.toSeq.filter(_.span.startsWith(prefix))

  def jobs(prefix: String): Seq[JobRec] = recorder.jobs.asScala.toSeq.filter(_.span.startsWith(prefix))

  /** Query-thread samples in [from, to], or failing that the last one before. */
  def samplesIn(from: Long, to: Long): Seq[StackSample] = {
    val in = samples.filter(x => x.time >= from && x.time <= to)
    if (in.nonEmpty) in.toSeq else samples.filter(_.time < from).lastOption.toSeq
  }

  /** The engine layer a stage ran for: the query thread's most sampled
    * layer while it ran. */
  def layerOf(s: StageRec): String =
    samplesIn(s.submitted, s.completed).groupBy(_.layer).maxByOption(_._2.size).map(_._1).getOrElse("spark")

  /** Engine methods on the query thread's stack while the stage ran. */
  def methodsOf(s: StageRec): Set[String] =
    samplesIn(s.submitted, s.completed).flatMap(_.methods).toSet

  /** Triggers whose start falls inside a traced replay span. */
  def triggersIn(from: Long, to: Long): Seq[TriggerRec] =
    progress.triggers.asScala.toSeq.filter(t => t.startMs >= from && t.startMs <= to)
}
