package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM, one closed-loop client, Spark local[nproc].
  *
  *   setup    seeded inputs, fixtures and expected results, built `SetupReps`
  *            times, then untimed warm-up passes; setup_s is the session
  *            start plus the builds' median plus the warm-up
  *   measure  a fixed number of passes, about `--seconds` long (see
  *            Workload.passSeconds); every op of every pass is a sample,
  *            checked against its expected result
  *   trace    with `--trace 1`, at least four passes, untraced and traced
  *            in turn; the traced ones register Spark listeners, record
  *            spans and give the per-layer metrics, the untraced ones the
  *            baseline for trace.overhead
  *
  * Usage: Main --workload stocks|ingest --seed N --seconds S --trace 0|1
  *   --work DIR --out DIR --data DIR --oracle oracle.py --python PYTHON
  *   [--inject kind:op[:arg]]
  *        Main --canary-only --work DIR   (the data-free canary alone, in a
  *        fresh JVM)
  */
object Main {
  private val SetupReps = 3
  private val CanaryRows = 100000000L

  final case class OpRec(pass: Int, id: Int, name: String, kind: String,
      rows: Long, startMs: Long, endMs: Long, seconds: Double, ok: Boolean, heapMb: Double)
  final case class PassRec(index: Int, traced: Boolean, startMs: Long,
      endMs: Long, seconds: Double, ops: Seq[OpRec], gcSeconds: Double)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    // --key value options; a --key followed by another --key is a flag
    val keys = args.indices.filter(i => args(i).startsWith("--"))
    val opts = keys.collect { case i if i + 1 < args.length && !args(i + 1).startsWith("--") =>
      args(i).stripPrefix("--") -> args(i + 1) }.toMap
    val flags = keys.map(args(_)).filterNot(k => opts.contains(k.stripPrefix("--"))).toSet
    val work = new File(opts("work"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = session(work, nproc)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      if (flags("--canary-only"))
        println(f"perfbench: fresh-jvm canary_s ${canary(spark, nproc)}%.4f")
      else run(spark, opts, work, nproc, sessionS)
    } finally spark.stop()
  }

  def session(work: File, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Data-free, codegen'd host canary: its time depends only on the CPU
    * the host gives this JVM. Median of three after one discarded run. */
  def canary(spark: SparkSession, nproc: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, CanaryRows, 1L, nproc)
        .selectExpr("sum((id * 31) % 1000003) AS s")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    median(Seq(once(), once(), once()))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile, samples beyond). Fewer than 11 samples give the
    * maximum, with 0 beyond. */
  def tail(xs: Iterable[Double]): (Double, Double, Int) = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) (0.0, 0.0, 0)
    else if (s.size <= 10) (s.last, 100.0, 0)
    else { val k = s.size - 10; (s(k - 1), 100.0 * k / s.size, 10) }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def deleteTree(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)

  private def workload(opts: Map[String, String], seed: Long, nproc: Int): Workload =
    opts("workload") match {
      case "stocks" => new StocksWorkload(seed, nproc, new Oracle(opts("python"), opts("oracle")))
      case "ingest" => new IngestWorkload(seed, nproc, new File(opts("data")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def run(spark: SparkSession, opts: Map[String, String], work: File,
      nproc: Int, sessionS: Double): Unit = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts.getOrElse("trace", "0") == "1"
    val out = new File(opts("out"))
    val inject = opts.get("inject").flatMap(Inject.parse)
    val wl = workload(opts, seed, nproc)
    def log(s: String): Unit = println(s"perfbench: $s")

    log(s"workload ${wl.name} seed $seed nproc $nproc clients 1 trace ${if (traceMode) 1 else 0} " +
      wl.sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))
    inject.foreach(i => log(s"self-test injection ${i.kind} into ${i.op}"))
    val r0 = System.nanoTime()
    def phase(): Double = (System.nanoTime() - r0) / 1e9
    val canaryStart = canary(spark, nproc)
    val tCanary = phase()

    // ---- setup: built SetupReps times from scratch; the last build stays
    val setupTimes = (1 to SetupReps).map { rep =>
      val dir = new File(work, "fixture")
      deleteTree(dir)
      dir.mkdirs()
      val t0 = System.nanoTime()
      wl.setup(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val untracedSamples = new Samples
    val tracedSamples = new Samples
    val exec = new ExecRecorder
    val streams = new StreamRecorder
    val passes = ArrayBuffer.empty[PassRec]
    val failures = ArrayBuffer.empty[String]

    // outside any pass's timing: drop whatever was left cached, then a
    // full collection, so every pass starts from the same heap
    def settle(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // the second collection frees what the first one let Spark's
      // ContextCleaner release (broadcast and shuffle bookkeeping)
      System.gc()
      Thread.sleep(200)
      System.gc()
    }

    /** `sampleHeap`: after each op, a full collection and the old
      * generation's occupancy (peak_heap_mb), before its cache is dropped. */
    def runPass(index: Int, traced: Boolean, measured: Boolean,
        sampleHeap: Boolean = false): PassRec = {
      val passDir = new File(work, s"pass-$index")
      passDir.mkdirs()
      val tracer = new Tracer(traced)
      val samples = if (traced) tracedSamples else untracedSamples
      if (traced) {
        exec.resetPeak()
        spark.sparkContext.addSparkListener(exec)
        spark.streams.addListener(streams)
      }
      val ops = wl.ops(spark, passDir)
      val gc0 = gcSeconds()
      val p0 = System.nanoTime()
      val pStartMs = System.currentTimeMillis()
      val recs = ops.zipWithIndex.map { case (op, i) =>
        val id = index * 1000 + i
        val ctx = new Ctx(spark, tracer, samples, id, op, inject)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var heapMb = Double.NaN
        val ok = try {
          tracer.span(op.name, id, "pass") {
            if (inject.exists(_.hits("throw", op.name)))
              throw new IllegalStateException(s"injected failure in ${op.name}")
            inject.filter(_.hits("sleep", op.name))
              .foreach(i => Thread.sleep((i.arg * 1000).toLong))
            op.body(ctx)
            if (sampleHeap) heapMb = Heap.afterFullGcMb()
            spark.catalog.clearCache()
          }
          true
        } catch {
          case e: Throwable =>
            if (measured) failures += s"pass $index ${op.name}: ${e.getMessage}"
            else failures += s"warm-up ${op.name}: ${e.getMessage}"
            spark.catalog.clearCache()
            false
        }
        OpRec(index, id, op.name, op.kind, op.rows, startMs,
          System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, ok, heapMb)
      }
      val rec = PassRec(index, traced, pStartMs, System.currentTimeMillis(),
        (System.nanoTime() - p0) / 1e9, recs, gcSeconds() - gc0)
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(exec)
        spark.streams.removeListener(streams)
        Layers.fromTrace(rec, tracer, exec, streams, nproc).foreach {
          case (k, v) => tracedSamples.add(k, v)
        }
        exec.clear()
        streams.clear()
        val spanFile = new File(out, s"spans-${wl.name}-seed$seed-pass$index.json")
        java.nio.file.Files.write(spanFile.toPath, tracer.toJson.getBytes("UTF-8"))
      }
      deleteTree(passDir)
      settle()
      rec
    }

    // ---- warm-up: every op runs warmPasses times, untimed; the last pass
    // samples the heap, since its full collections would distort a timed one
    val tSetup = phase()
    val w0 = System.nanoTime()
    settle()
    val heapPass = (1 to wl.warmPasses).map { i =>
      runPass(-i, traced = false, measured = false, sampleHeap = i == wl.warmPasses)
    }.last
    val peakHeapMb = heapPass.ops.map(_.heapMb).max
    val warmSeconds = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(setupTimes) + warmSeconds
    log(f"setup_s ${setupS}%.4f s (session start $sessionS%.3f; fixture builds " +
      f"${setupTimes.map(t => f"$t%.3f").mkString(" ")}; warm-up $warmSeconds%.3f)")

    // ---- measure
    // traced runs order their passes untraced, traced, traced, untraced,
    // so the JIT's remaining speed-up does not bias trace.overhead
    val tWarm = phase()
    val passCount = math.max(if (traceMode) 4 else 2, math.round(seconds / wl.passSeconds).toInt)
    (1 to passCount).foreach { index =>
      passes += runPass(index, traced = traceMode && index % 4 >= 2, measured = true)
    }
    log(s"peak_heap_mb at the end of ${heapPass.ops.maxBy(_.heapMb).name}")
    log(s"pass walls ${passes.map(p => f"${p.seconds}%.3f${if (p.traced) "t" else ""}").mkString(" ")}")
    val tMeasure = phase()
    val canaryEnd = canary(spark, nproc)
    log(f"phases: canary $tCanary%.1f s, setup ${tSetup - tCanary}%.1f s, warm-up " +
      f"${tWarm - tSetup}%.1f s, measure ${tMeasure - tWarm}%.1f s (${passes.size} passes), " +
      f"end canary ${phase() - tMeasure}%.1f s")

    val measuredOps = passes.flatMap(_.ops)
    val attempted = measuredOps.size
    val failed = measuredOps.count(!_.ok)
    val warmFailed = failures.count(_.startsWith("warm-up"))
    failures.take(10).foreach(f => log(s"FAILED $f"))
    val correct = failed == 0 && warmFailed == 0

    val untraced = passes.filter(!_.traced)
    val uOps = untraced.flatMap(_.ops)
    val wall = median(untraced.map(_.seconds))
    val (opTail, tailPct, tailBeyond) = tail(uOps.map(_.seconds))
    val rowsPerS = median(untraced.map(p => p.ops.map(_.rows).sum / p.seconds))
    def kindP50(k: String) = median(uOps.filter(_.kind == k).map(_.seconds))

    // op_p50_s is printed but not reported: on stocks its run-to-run
    // spread exceeded the largest bound a metric may carry
    log(f"op_p50_s ${median(uOps.map(_.seconds))}%.6f s")
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("op_tail_s", opTail, "s"),
      ("rows_per_s", rowsPerS, "1/s"),
      ("peak_heap_mb", peakHeapMb, "MB"))
    log(f"passes ${untraced.size} untraced, ${passes.count(_.traced)} traced; ops attempted $attempted failed $failed fail_ratio ${failed.toDouble / attempted}%.4f")
    log(f"op_tail_s is p$tailPct%.1f with $tailBeyond samples beyond it, of ${uOps.size}")
    e2e.foreach { case (k, v, u) => log(f"$k $v%.6f $u") }
    uOps.groupBy(_.name).toSeq.sortBy(_._2.head.id % 1000).foreach { case (n, rs) =>
      log(f"op $n%-20s p50 ${median(rs.map(_.seconds))}%.4f s over ${rs.size}")
    }
    // per-kind latencies (ingest: commits, snapshot reads, stream triggers)
    val kinds = uOps.map(_.kind).distinct
    if (kinds.contains("commit")) {
      val c = uOps.filter(_.kind == "commit").map(_.seconds)
      val (ct, cp, cb) = tail(c)
      log(f"commit_p50_s ${median(c)}%.6f s; commit_tail_s $ct%.6f s (p$cp%.1f, $cb beyond, of ${c.size})")
      log(f"read_p50_s ${kindP50("read")}%.6f s")
      val b = untracedSamples.get("batch_s")
      val (bt, bp, bb) = tail(b)
      log(f"batch_p50_s ${median(b)}%.6f s; batch_tail_s $bt%.6f s (p$bp%.1f, $bb beyond, of ${b.size})")
    }
    log(f"host.canary_s $canaryStart%.4f s; host.canary_end_s $canaryEnd%.4f s")

    val metrics: Seq[(String, Double, String)] =
      if (!traceMode) e2e
      else {
        val tWall = median(passes.filter(_.traced).map(_.seconds))
        val layer = Layers.perLayer.map { case (k, u) =>
          (k, median(tracedSamples.get(k)), u)
        }
        val extra = tracedSamples.values.keys.toSeq
          .filterNot(k => Layers.perLayer.exists(_._1 == k)).sorted
        extra.foreach(k => log(f"$k ${median(tracedSamples.get(k))}%.6f (median of ${tracedSamples.get(k).size})"))
        layer ++ Seq(
          ("host.canary_s", canaryStart, "s"),
          ("host.canary_end_s", canaryEnd, "s"),
          ("trace.overhead", tWall / wall - 1.0, "ratio"))
      }
    if (traceMode) metrics.foreach { case (k, v, u) => log(f"$k $v%.6f $u") }

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
    java.nio.file.Files.write(new File(out, "result.json").toPath, json.getBytes("UTF-8"))
  }
}

/** Old-generation occupancy after a full collection, sampled at the end
  * of every op of the last warm-up pass, while what the op left cached is
  * still held. (Sampled after each young collection instead, it reads
  * whatever the pass happened to promote, which varies several-fold from
  * run to run.) */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def afterFullGcMb(): Double = {
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
