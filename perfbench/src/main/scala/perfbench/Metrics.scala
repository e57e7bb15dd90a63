package perfbench

/** Metric definitions and the result/disclosure JSON. */
object Metrics {

  /** End-to-end metrics, printed by every untraced run: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "events_per_s" -> "events/s",
    "commit_p50_s" -> "s",
    "point_read_p50_s" -> "s",
    "ivm_sync_p50_s" -> "s",
    "write_amp" -> "ratio",
    "peak_rss_mb" -> "MB",
    "success_rate" -> "ratio")

  /** Per-layer metrics, printed by every traced run: (name, unit).
    * Counters are means per traced `Replay.replay` call unless noted. */
  val PerLayer: Seq[(String, String)] = Seq(
    "stream.overhead_s" -> "s",
    "stream.start_s" -> "s",
    "stream.fenced_batches" -> "count",
    "apply.task_s" -> "s",
    "apply.shuffle_write_bytes" -> "bytes",
    "apply.shuffle_read_bytes" -> "bytes",
    "apply.spill_bytes" -> "bytes",
    "apply.jobs" -> "count",
    "lake.input_bytes" -> "bytes",
    "lake.output_bytes" -> "bytes",
    "lake.driver_s" -> "s",
    "lake.current_s" -> "s",
    "lake.cow_buckets" -> "count",
    "lake.mor_buckets" -> "count",
    "lake.rewrite_ratio" -> "ratio",
    "lake.delta_chain_max" -> "count",
    "lake.read_keys_input_bytes" -> "bytes",
    "lake.ivm_sync_input_bytes" -> "bytes",
    "operators.admit_task_s" -> "s",
    "operators.index_append_task_s" -> "s",
    "operators.probed_docs" -> "count",
    "operators.dropped_docs" -> "count",
    "operators.admit_yield" -> "ratio",
    "operators.dedup_recall" -> "ratio",
    "jvm.gc_s" -> "s",
    "host.steal_jiffies" -> "count",
    "trace.overhead" -> "ratio",
    "trace.coverage" -> "ratio")

  val NamePattern = "[A-Za-z0-9_.-]+"

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def endToEnd(run: Run, setups: Seq[Double], samples: Seq[Sample]): Seq[(String, Double)] = {
    val s = samples.filter(!_.traced)
    val commit = Run.median(s.map(_.replayS))
    Seq(
      "setup_s" -> Run.median(setups),
      "events_per_s" -> s.head.events / commit,
      "commit_p50_s" -> commit,
      "point_read_p50_s" -> Run.median(s.flatMap(_.readS)),
      "ivm_sync_p50_s" -> Run.median(s.flatMap(_.syncS)),
      "write_amp" -> s.map(_.writtenBytes).sum.toDouble / s.map(_.inputBytes).sum,
      "peak_rss_mb" -> Host.peakRssMb(),
      "success_rate" -> (1.0 - run.failed.toDouble / run.attempted))
  }

  def perLayer(run: Run, samples: Seq[Sample], window: Host.Window): Seq[(String, Double)] = {
    import Trace._
    val tr = run.tracer
    val traced = samples.filter(_.traced)
    val calls = traced.size.max(1).toDouble
    val replayStages = tr.stages("replay:").map(s => (s, tr.layerOf(s)))
    def layer(l: String) = replayStages.collect { case (s, `l`) => s }
    def per(xs: Seq[Long]): Double = xs.sum / calls
    val spans = tr.replaySpans.toSeq
    val triggers = spans.flatMap { case (_, a, b) => tr.triggersIn(a, b) }
    val intervals = replayStages.map { case (s, _) => (s.submitted, s.completed) }
    val known = replayStages.collect { case (s, l) if Layers.contains(l) => (s.submitted, s.completed) }
    // per trigger: (driver ms with no stage running, of it the share the
    // query thread spent in engine code, stage ms filed under a layer)
    val perTrigger = triggers.map { t =>
      val (from, to) = (t.startMs, t.startMs + t.triggerMs)
      val driver = (t.addBatchMs - unionMs(intervals, from, to)).max(0L)
      val idle = tr.samples.filter(x => x.time >= from && x.time <= to &&
        !intervals.exists { case (a, b) => x.time >= a && x.time <= b })
      val engineShare = if (idle.isEmpty) 0.0 else idle.count(x => Layers.contains(x.layer)).toDouble / idle.size
      (driver, engineShare, unionMs(known, from, to))
    }
    val addBatch = triggers.map(_.addBatchMs).sum
    /** Input bytes per call of the spans named `prefix`. */
    def readBytes(prefix: String, calls: Int): Double =
      tr.stages(prefix).map(_.inputBytes).sum.toDouble / calls.max(1)
    def opStages(marks: String*): Seq[StageRec] =
      layer("operators").filter(s => tr.methodsOf(s).exists(marks.contains))
    val untracedReplay = Run.median(samples.filter(!_.traced).map(_.replayS))
    val probed = traced.map(_.probed).sum
    Seq(
      "stream.overhead_s" -> triggers.map(t => t.triggerMs - t.addBatchMs).sum / 1000.0 / calls,
      "stream.start_s" -> spans.map { case (_, a, b) =>
        (b - a) - tr.triggersIn(a, b).map(_.triggerMs).sum
      }.sum / 1000.0 / calls,
      "stream.fenced_batches" -> traced.map(_.fenced).sum.toDouble,
      "apply.task_s" -> per(layer("apply").map(_.runMs)) / 1000.0,
      "apply.shuffle_write_bytes" -> per(layer("apply").map(_.shuffleWriteBytes)),
      "apply.shuffle_read_bytes" -> per(layer("apply").map(_.shuffleReadBytes)),
      "apply.spill_bytes" -> per(layer("apply").map(_.spillBytes)),
      "apply.jobs" -> tr.jobs("replay:").count(j => tr.samplesIn(j.time, j.time + 10).exists(_.layer == "apply")) / calls,
      "lake.input_bytes" -> per(layer("lake").map(_.inputBytes)),
      "lake.output_bytes" -> per(layer("lake").map(_.outputBytes)),
      "lake.driver_s" -> perTrigger.map(_._1).sum / 1000.0 / calls,
      "lake.current_s" -> Run.median(traced.map(_.currentS)),
      "lake.cow_buckets" -> mean(traced.map(_.cowBuckets.toDouble)),
      "lake.mor_buckets" -> mean(traced.map(_.morBuckets.toDouble)),
      "lake.rewrite_ratio" -> traced.map(_.rowsWritten).sum.toDouble / traced.map(_.docsChanged).sum.max(1L),
      "lake.delta_chain_max" -> traced.map(_.deltaChainMax).maxOption.getOrElse(0).toDouble,
      "lake.read_keys_input_bytes" -> readBytes("read:", traced.map(_.readS.size).sum),
      "lake.ivm_sync_input_bytes" -> readBytes("sync:", traced.map(_.syncS.size).sum),
      "operators.admit_task_s" -> per(opStages("admitCanonical").map(_.runMs)) / 1000.0,
      "operators.index_append_task_s" ->
        per(opStages("indexAdmitted", "compact").map(_.runMs)) / 1000.0,
      "operators.probed_docs" -> probed / calls,
      "operators.dropped_docs" -> traced.map(_.dropped).sum / calls,
      "operators.admit_yield" -> (if (probed == 0) 0.0 else traced.map(_.dropped).sum.toDouble / probed),
      "operators.dedup_recall" -> mean(traced.map(_.recall)),
      "jvm.gc_s" -> traced.map(_.gcS).sum / calls,
      "host.steal_jiffies" -> window.stealJiffies.toDouble,
      "trace.overhead" -> (Run.median(traced.map(_.replayS)) / untracedReplay - 1.0),
      "trace.coverage" -> (if (addBatch == 0) 0.0
        else perTrigger.map { case (d, share, k) => d * share + k }.sum / addBatch))
  }

  /** Run quality beside the result: host window, sample counts, errors. */
  def disclosure(run: Run, setups: Seq[Double], samples: Seq[Sample],
      window: Host.Window): Seq[(String, Any)] = Seq(
    "workload" -> run.workload,
    "seed" -> run.seed,
    "trace" -> run.trace,
    "cores" -> run.cores,
    "setup_runs_s" -> setups.map(x => f"$x%.3f").mkString(","),
    "iterations" -> samples.size,
    "untraced_iterations" -> samples.count(!_.traced),
    "replay_s" -> samples.map(s => f"${s.replayS}%.3f").mkString(","),
    "read_p50_s" -> samples.map(s => f"${Run.median(s.readS)}%.3f").mkString(","),
    "sync_s" -> samples.flatMap(_.syncS).map(x => f"$x%.3f").mkString(","),
    "written_bytes" -> samples.map(_.writtenBytes).mkString(","),
    "cow_mor_buckets" -> samples.map(s => s"${s.cowBuckets}/${s.morBuckets}").mkString(","),
    "steal_jiffies" -> window.stealJiffies,
    "steal_share" -> window.stealShare,
    "load1_start" -> window.load1Start,
    "load1_end" -> window.load1End,
    "contaminated" -> window.contaminated,
    "errors" -> run.errors.take(5).mkString(" | ")) ++ run.notes.toSeq

  def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    val value = v match {
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
      case d: Double if d.isNaN || d.isInfinite => "null"
      case other => other.toString
    }
    "\"" + k + "\": " + value
  }.mkString("{", ", ", "}")

  /** The result object. A metric that could not be measured is left
    * out, so the run reads as incomplete rather than as a number. */
  def result(run: Run, metrics: Seq[(String, Double)]): String = {
    val units = (EndToEnd ++ PerLayer).toMap
    val ms = metrics.filter { case (_, v) => !v.isNaN && !v.isInfinite }.map { case (n, v) =>
      "\"" + n + "\": {\"value\": " + v + ", \"unit\": \"" + units(n) + "\"}"
    }.mkString("{", ", ", "}")
    val correct = run.failed == 0 && run.errors.isEmpty && metrics.nonEmpty
    s"""{"correct": $correct, "attempted": ${run.attempted.max(1)}, "failed": ${run.failed}, "metrics": $ms}"""
  }
}
