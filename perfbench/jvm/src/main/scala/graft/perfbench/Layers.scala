package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced pass, from its spans and the Spark
  * listener records. Times and sizes are per pass; `exec.core_util` and
  * `exec.stage_skew` are ratios. */
object Layers {

  /** The per-layer metrics every workload reports, with units. */
  val perLayer: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s",
    "plans.plan_s" -> "s",
    "driver.gap_s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.sched_delay_s" -> "s",
    "exec.run_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.core_util" -> "ratio",
    "exec.stage_skew" -> "ratio",
    "exec.spill_mb" -> "MB",
    "exec.gc_s" -> "s",
    "sources.scan_mb" -> "MB",
    "sources.scan_rows" -> "count",
    "shuffle.write_mb" -> "MB",
    "shuffle.read_mb" -> "MB",
    "storage.peak_mb" -> "MB")

  private val MB = 1048576.0

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def fromTrace(pass: Main.PassRec, tracer: Tracer, exec: ExecRecorder,
      streams: StreamRecorder, nproc: Int): Seq[(String, Double)] = {
    val spans = tracer.spans.toSeq
    def spanSum(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val (jobs, tasks) = exec.synchronized((exec.jobs.toSeq, exec.tasks.toSeq))
    val passJobs = jobs.filter(j => j.startMs >= pass.startMs && j.startMs <= pass.endMs)
      .map(j => if (j.endMs < 0) j.copy(endMs = pass.endMs) else j)
    val stageIds = passJobs.flatMap(_.stages).toSet
    val passTasks = tasks.filter(t => stageIds(t.stage))
    val gap = pass.ops.map { op =>
      val busy = covered(passJobs.map(j => (j.startMs, j.endMs)), op.startMs, op.endMs)
      math.max(0L, (op.endMs - op.startMs) - busy) / 1e3
    }.sum
    val skew = passTasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble).sorted
      val med = Main.median(d)
      if (med > 0) d.last / med else 1.0
    }.foldLeft(1.0)(math.max)
    val runS = passTasks.map(_.runMs).sum / 1e3
    val layer = Seq(
      "operators.build_s" -> spanSum("build"),
      "plans.plan_s" -> spanSum("plan"),
      "driver.gap_s" -> gap,
      "exec.jobs" -> passJobs.size.toDouble,
      "exec.stages" -> passTasks.map(_.stage).distinct.size.toDouble,
      "exec.tasks" -> passTasks.size.toDouble,
      "exec.sched_delay_s" -> passTasks.map(_.schedDelayMs).sum / 1e3,
      "exec.run_s" -> runS,
      "exec.task_cpu_s" -> passTasks.map(_.cpuNs).sum / 1e9,
      "exec.core_util" -> runS / (pass.seconds * nproc),
      "exec.stage_skew" -> skew,
      "exec.spill_mb" -> passTasks.map(_.spillBytes).sum / MB,
      "exec.gc_s" -> pass.gcSeconds,
      "sources.scan_mb" -> passTasks.map(_.inBytes).sum / MB,
      "sources.scan_rows" -> passTasks.map(_.inRows).sum.toDouble,
      "shuffle.write_mb" -> passTasks.map(_.shWriteBytes).sum / MB,
      "shuffle.read_mb" -> passTasks.map(_.shReadBytes).sum / MB,
      "shuffle.fetch_wait_s" -> passTasks.map(_.fetchWaitMs).sum / 1e3,
      "storage.peak_mb" -> exec.storagePeak / MB)
    layer ++ streamLayers(streams, tracer)
  }

  /** Spark's own micro-batch phases, per trigger, from the progress
    * reports of the traced pass; one span per trigger. */
  private def streamLayers(streams: StreamRecorder, tracer: Tracer): Seq[(String, Double)] = {
    val progress = streams.synchronized(streams.progress.toSeq)
      .filter(_.numInputRows > 0)
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      tracer.add(Span("trigger", -1, Option(p.name).getOrElse("stream"),
        start * 1000000L, (start + dur) * 1000000L))
    }
    def phase(key: String): Seq[(String, Double)] = progress.flatMap(p =>
      Option(p.durationMs.get(key)).map(v => v.longValue / 1e3))
      .map(v => s"streaming.${snake(key)}_s" -> v)
    val state = progress.flatMap(p => p.stateOperators.toSeq)
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .flatMap(phase) ++
      (if (state.isEmpty) Nil else Seq(
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).max,
        "streaming.state_mb" -> state.map(_.memoryUsedBytes.toDouble).max / MB))
  }

  private def snake(s: String): String = s.flatMap(c =>
    if (c.isUpper) "_" + c.toLower else c.toString)
}
