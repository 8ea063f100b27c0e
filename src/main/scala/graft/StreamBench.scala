package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-ingest latency harness (dev/diagnostic main, not part of the
  * driver contract): measures PER-MICRO-BATCH latency for the two
  * stateful streaming paths whose correctness the specs already pin —
  * the funnel FSM (`Streams.funnelStateful`, flatMapGroupsWithState) and
  * the incremental near-dedup ingest (`SigIndex.streamingIngest`,
  * foreachBatch probe-then-append against the persisted signature
  * index).
  *
  * Method: the sf corpus is staged as `Batches` parquet files in an
  * arriving-files directory; `maxFilesPerTrigger=1` makes each file one
  * micro-batch (Trigger.AvailableNow respects source rate limits), so a
  * run yields `Batches` progress events whose `triggerExecution`
  * durations are the per-batch latencies. p50/p95/batches-per-second
  * come from those events; state-size telemetry (`numRowsTotal` of the
  * state operator) rides along so state growth is measured, not assumed.
  *
  * Output: one JSON line per stream — committed per round as
  * STREAM_BENCH_r{N}.json.
  */
object StreamBench {

  private val Batches = 16

  /** Split df into `Batches` files under dir (one file per batch), sliced
    * by `batchCol` ∈ [0, Batches); `drop` names helper columns stripped
    * from the staged files (e.g. the slice key itself). The source frame
    * is cached for the 16 filtered writes — one scan, not one per batch. */
  private def stage(df: DataFrame, batchCol: org.apache.spark.sql.Column,
      dir: String, drop: Seq[String] = Nil): Unit = {
    new java.io.File(dir).mkdirs()
    val cached = df.cache()
    try (0 until Batches).foreach { b =>
      val tmp = s"$dir-tmp-$b"
      cached.filter(batchCol === b).drop(drop: _*).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/batch-$b.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    } finally cached.unpersist()
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  /** Run a started streaming query to completion and report its per-batch
    * latency profile from the progress events. */
  private def report(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery, wallSec: Double): String = {
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val lat = prog.flatMap(p => Option(p.durationMs.get("triggerExecution"))
      .map(_.toDouble / 1000.0))
    val rows = prog.map(_.numInputRows).sum
    val stateRows = prog.flatMap(p => Option(p.stateOperators).toSeq.flatten
      .map(_.numRowsTotal)).foldLeft(0L)(math.max)
    s"""{"stream":"$name","batches":${lat.size},"rows":$rows,""" +
      s""""wall_sec":${fmt(wallSec)},"batches_per_sec":${fmt(lat.size / wallSec)},""" +
      s""""p50_sec":${fmt(pct(lat, 0.50))},"p95_sec":${fmt(pct(lat, 0.95))},""" +
      s""""max_state_rows":$stateRows}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Paths.sf("sf0.1"))
    // micro-batch frames are tiny; AQE (on by default) coalesces their
    // per-core shuffles down to the handful of partitions the data
    // justifies (foreachBatch bodies run as ordinary batch jobs, so AQE
    // applies to sig_ingest)
    val spark = GraftSession.build("graft-stream-bench")
    val base = s"${Paths.work}/stream-bench-${System.nanoTime()}"

    // ---- funnel FSM over the events stream, one file per micro-batch
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evDir = s"$base/events-in"
    stage(spark.read.parquet(s"$sfDir/events.parquet"),
      pmod(col("event_id"), lit(Batches)), evDir)
    val t0 = System.nanoTime()
    val funnelQ = streaming.Streams
      .funnelStateful(streaming.Streams.eventsStream(spark, evDir,
        maxFilesPerTrigger = Some(1)))
      .toDF()
      .writeStream.format("noop")
      .option("checkpointLocation", s"$base/funnel-chk")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    funnelQ.awaitTermination(600000)
    println(report("funnel_stateful", funnelQ, (System.nanoTime() - t0) / 1e9))

    // ---- OHLC bar ingestion (the finance pipeline's streaming half):
    // watermarked windowed min_by/max_by aggregation, one state row per
    // open (instrument, hour) window. Staged in TIME ORDER (unlike the
    // hash-split funnel input): a watermarked aggregation fed
    // whole-time-range batches would late-drop nearly everything after
    // batch 1 and hold every window open — time slices are what real
    // arrival looks like, and they let the watermark seal bars as it
    // advances (state telemetry shows the bound).
    val evTimeDir = s"$base/events-time-in"
    val evTs = Tables.events(spark, sfDir).select(
      min("ts_us").as("lo"), max("ts_us").as("hi")).collect()(0)
    val (lo, hi) = (evTs.getLong(0), evTs.getLong(1))
    // stage from the normalized frame (slice derived in-frame — a column
    // from a second Tables.events call would carry foreign attribute
    // ids), then restore raw ns-longs so the staged files match the
    // vintage the stream reader declares
    stage(Tables.events(spark, sfDir)
      .withColumn("__slice", least(lit(Batches - 1),
        ((col("ts_us") - lo) * Batches / (hi - lo + 1)).cast("int")))
      .withColumn("ts", expr("unix_micros(ts) * 1000")).drop("ts_us"),
      col("__slice"), evTimeDir, drop = Seq("__slice"))
    val t2 = System.nanoTime()
    val barsQ = operators.Finance
      .barsStream(streaming.Streams.eventsStream(spark, evTimeDir,
          maxFilesPerTrigger = Some(1))
        .withWatermark("ts", "1 hour"))
      .writeStream.format("noop")
      .option("checkpointLocation", s"$base/bars-chk")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    barsQ.awaitTermination(600000)
    println(report("bars_ingest", barsQ, (System.nanoTime() - t2) / 1e9))

    // ---- incremental near-dedup ingest: probe-then-append per batch
    val docDir = s"$base/docs-in"
    stage(spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text"), pmod(col("doc_id"), lit(Batches)), docDir)
    val docStream = spark.readStream
      .schema(spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docDir)
    val t1 = System.nanoTime()
    val ingestQ = operators.SigIndex.streamingIngest(docStream,
      s"$base/sig-idx", s"$base/pairs", s"$base/ingest-chk")
    ingestQ.awaitTermination(600000)
    println(report("sig_ingest", ingestQ, (System.nanoTime() - t1) / 1e9))
    // per-phase p50s (SigIndex.ingestBatch telemetry): which phase of
    // the probe-then-append loop moved, measured — the d15/sig_ingest
    // drift adjudication line. Phases overlap by design, so their sum
    // may exceed the batch wall.
    val phaseBody = operators.SigIndex.phaseP50s().toSeq.sortBy(_._1)
      .map { case (k, (p50, n)) => s""""$k":{"p50_sec":${fmt(p50)},"n":$n}""" }
      .mkString(",")
    println(s"""{"stream":"sig_ingest_phases"""" +
      (if (phaseBody.isEmpty) "}" else s",$phaseBody}"))

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    spark.stop()
  }
}
