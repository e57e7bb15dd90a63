package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: where it works, what it counted, and the
  * operation/correctness bookkeeping every workload shares. */
final class Run(val root: File, val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val cores: Int) {
  val state = new File(root, ".bench_build/perfbench")
  val cache = new File(state, "inputs")
  val work = new File(state, "work")
  var spark: SparkSession = _
  var tracer: Tracer = _
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Disclosure printed beside the result (not metrics). */
  val notes = mutable.LinkedHashMap.empty[String, String]

  private var inOp = false
  private var opFailed = false

  /** One attempted operation; an exception, or a failed [[check]] inside
    * it, makes it a failed one. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    inOp = true
    opFailed = false
    try Some(body)
    catch {
      case NonFatal(e) =>
        opFailed = true
        errors += s"$what: $e"
        None
    } finally {
      if (opFailed) failed += 1
      inOp = false
    }
  }

  /** A wrong result fails the operation it belongs to (or counts as a
    * failed operation of its own outside one). */
  def check(what: String, problems: Seq[String]): Unit =
    if (problems.nonEmpty) {
      errors ++= problems.take(3).map(p => s"$what: $p")
      if (inOp) opFailed = true
      else { attempted += 1; failed += 1 }
    }
}

object Run {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --root DIR --out FILE`. Writes the result object to
  * FILE and prints a disclosure line on stdout. */
object Main {
  val Workloads: Seq[String] = Seq("cdc_tail", "dedup_ingest")
  val SetupReps = 2
  /** An untraced window runs at least one iteration; a traced one at
    * least one untraced and one traced. */
  val MinIterations = 1

  def workload(run: Run): Workload = run.workload match {
    case "cdc_tail" => new CdcTail(run)
    case "dedup_ingest" => new DedupIngest(run)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    require(Workloads.contains(arg("workload")), s"unknown workload ${arg("workload")}")
    val run = new Run(new File(arg("root")), arg("workload"), arg("seed").toLong,
      arg("seconds").toInt, arg("trace") == "1", math.min(4, Runtime.getRuntime.availableProcessors))
    val result = execute(run)
    Files.write(new File(arg("out")).toPath, result.getBytes("UTF-8"))
  }

  /** Run one workload end to end; returns the result JSON object. */
  def execute(run: Run): String = {
    Host.deleteRecursively(run.work)
    run.work.mkdirs()
    run.cache.mkdirs()
    val sparkLocal = new File(run.work, "spark-local")
    try {
      val t0 = System.nanoTime()
      run.spark = Session.start(run.cores, sparkLocal)
      val sessionStart = (System.nanoTime() - t0) / 1e9
      val w = workload(run)
      val tp = System.nanoTime()
      w.prepare()
      run.notes("prepare_s") = f"${(System.nanoTime() - tp) / 1e9}%.3f"
      val setups = (0 until SetupReps).map { rep =>
        val t = System.nanoTime()
        if (rep > 0) run.spark = Session.start(run.cores, sparkLocal)
        w.setup(rep)
        (System.nanoTime() - t) / 1e9 + (if (rep == 0) sessionStart else 0.0)
      }
      run.tracer = new Tracer(run.spark)
      val probe = new Host.WindowProbe(run.cores)
      val samples = mutable.ArrayBuffer.empty[Sample]
      val deadline = System.nanoTime() + run.seconds * 1000000000L
      val minIters = if (run.trace) 2 * MinIterations else MinIterations
      var k = 0
      while ((k < minIters || System.nanoTime() < deadline) && w.more(k)) {
        val traced = run.trace && k % 2 == 1
        if (traced) run.tracer.start()
        samples += w.iteration(k, traced)
        if (traced) run.tracer.stop()
        k += 1
      }
      val window = probe.end()
      val tf = System.nanoTime()
      w.finish()
      run.notes("finish_s") = f"${(System.nanoTime() - tf) / 1e9}%.3f"
      val metrics =
        if (run.trace) Metrics.perLayer(run, samples.toSeq, window)
        else Metrics.endToEnd(run, setups, samples.toSeq)
      println("perfbench-run " + Metrics.json(Metrics.disclosure(run, setups, samples.toSeq, window)))
      Metrics.result(run, metrics)
    } catch {
      case NonFatal(e) =>
        run.attempted += 1
        run.failed += 1
        run.errors += s"run aborted: $e"
        System.err.println(s"perfbench: ${run.workload} aborted")
        e.printStackTrace()
        Metrics.result(run, Nil)
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Host.deleteRecursively(run.work)
      run.errors.foreach(e => System.err.println(s"perfbench error: $e"))
    }
  }
}
