package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming micro-batch tests: the same transformations used by
  * the oracled batch entries, run through readStream → writeStream with
  * watermarks, must converge to the batch answer once the file source is
  * exhausted (Trigger.AvailableNow). */
class StreamingSpec extends SparkSpec {

  /** The file stream source wants a directory of arriving files; stage the
    * read-only single-file testdata into one. */
  private lazy val stageDir: String = {
    val d = new java.io.File(freshRoot("stream-events"))
    d.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"${d.getAbsolutePath}/batch-0.parquet"))
    d.getAbsolutePath
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", freshRoot(s"chk/$name"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive, "stream did not finish")
  }

  test("streaming tumbling window with watermark == batch tumbling window") {
    val stream = Streams.eventsStream(spark, stageDir).withWatermark("ts", "1 hour")
    runToMemory(Streams.tumbling(stream), "tumbling_out", "append")
    val got = spark.table("tumbling_out")
      .orderBy("win_start", "event_type").collect()
    // append mode only emits windows the watermark has closed; every emitted
    // row must match the batch computation exactly, and most windows close.
    val want = Streams.tumbling(Tables.events(spark, sf))
      .orderBy("win_start", "event_type").collect()
    val wantMap = want.map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    assert(got.nonEmpty, "watermark emitted no closed windows")
    got.foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      assert(wantMap.contains(k), s"unexpected window $k")
      assert(wantMap(k) === r)
    }
    assert(got.length >= want.length - 5, // at most the tail windows open
      s"too few closed windows: ${got.length} vs batch ${want.length}")
  }

  test("streaming OHLC bars (min_by/max_by state) == batch bar derivation") {
    import graft.operators.Finance
    val stream = Streams.eventsStream(spark, stageDir).withWatermark("ts", "1 hour")
    runToMemory(Finance.barsStream(stream), "bars_out", "append")
    val got = spark.table("bars_out").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val want = Finance.bars(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(got.nonEmpty, "watermark emitted no closed bars")
    // every emitted bar must match the batch bar exactly (open/close via
    // min_by/max_by must agree with the batch rank-1 rows under ties too)
    got.foreach { case (k, r) =>
      assert(want.contains(k), s"unexpected bar $k")
      val w = want(k)
      Seq("close_ck", "high_ck", "low_ck").foreach { c =>
        assert(r.getAs[Long](c) === w.getAs[Long](c), s"bar $k column $c")
      }
    }
    assert(got.size >= want.size - 10,
      s"too few closed bars: ${got.size} vs batch ${want.size}")
  }

  test("stream-stream interval join (watermarked both sides) == batch e4 kernel") {
    // the flagship Structured Streaming capability the batch e4 twins:
    // clicks join views on user within [v_ts, v_ts + 30m), both sides
    // watermarked so the join state is bounded
    val ev = Streams.eventsStream(spark, stageDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val joined = clicks.join(views,
      col("c_uid") === col("v_uid") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") < col("v_ts") + expr("INTERVAL 30 MINUTES"))
    runToMemory(joined, "ssjoin_out", "append")
    val got = spark.table("ssjoin_out")
      .groupBy(col("c_uid").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("click_id") + col("view_id")).as("ck"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val evB = Tables.events(spark, sf)
    val want = Streams.clickViewIntervalJoin(
      evB.filter(col("event_type") === "view"),
      evB.filter(col("event_type") === "click"))
      .groupBy(col("c_uid").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("click_id") + col("view_id")).as("ck"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
  }

  test("stream-stream LEFT OUTER join: NULL rows emit only after the watermark seals a view") {
    // the outer-emission semantics the inner-join test can't see: an
    // unmatched view may only produce its NULL row once the watermark
    // has passed the end of its join window (the engine must be sure no
    // matching click can still arrive). Both sides watermarked 1h.
    val ev = Streams.eventsStream(spark, stageDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("ts").as("v_ts"),
        col("ts_us").as("v_us"), col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
        col("ts_us").as("c_us"), col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    // the range condition must be on the WATERMARKED event-time columns
    // (not the raw epoch longs): that's how the engine derives when the
    // nullable side's state seals and an outer row may emit
    val joined = views.join(clicks,
      col("c_uid") === col("v_uid") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") < col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
    runToMemory(joined, "louter_out", "append")
    val got = spark.table("louter_out").collect()

    // batch truth: the same left-outer join
    val evB = Tables.events(spark, sf)
    val vB = evB.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("ts_us").as("v_us"),
        col("event_id").as("view_id"))
    val cB = evB.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts_us").as("c_us"),
        col("event_id").as("click_id"))
    val batch = vB.join(cB,
      col("c_uid") === col("v_uid") &&
        col("c_us") >= col("v_us") &&
        col("c_us") < col("v_us") + lit(1800L * 1000000L),
      "left_outer").collect()
    val batchMatched = batch.filter(!_.isNullAt(4))
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id"))).toSet
    val batchUnmatchedViews = batch.filter(_.isNullAt(4))
      .map(r => r.getAs[Long]("view_id")).toSet

    // 1) matched pairs: stream == batch exactly (inner rows always emit)
    val gotMatched = got.filter(!_.isNullAt(4))
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id"))).toSet
    assert(gotMatched === batchMatched)
    // 2) every emitted NULL row is genuinely unmatched in batch — the
    //    engine must never fabricate an outer row for a matched view
    val gotNull = got.filter(_.isNullAt(4)).map(r => r.getAs[Long]("view_id")).toSet
    assert(gotNull.nonEmpty, "no outer rows emitted — watermark never sealed any view")
    assert(gotNull.subsetOf(batchUnmatchedViews),
      s"outer rows for matched views: ${gotNull -- batchUnmatchedViews}")
    // 3) completeness under the final watermark: every unmatched view
    //    whose window closed strictly before the final GLOBAL watermark
    //    MUST have emitted its NULL row. Each side's watermark node sees
    //    only its own filtered rows and Spark's global watermark is the
    //    MIN across nodes — deriving the bound from max(ts) over all
    //    event types would overstate it whenever the latest view/click
    //    trails the latest event overall (spuriously flaky on fixture
    //    regeneration).
    val maxUs = evB.filter(col("event_type").isin("view", "click"))
      .groupBy("event_type").agg(max("ts_us").as("m"))
      .collect().map(_.getAs[Long]("m")).min
    val sealedBefore = maxUs - 3600L * 1000000L - 1800L * 1000000L
    val mustEmit = vB.filter(col("v_us") < sealedBefore)
      .select("view_id").collect().map(_.getLong(0)).toSet
      .intersect(batchUnmatchedViews)
    assert(mustEmit.subsetOf(gotNull),
      s"sealed unmatched views missing their NULL row: ${mustEmit -- gotNull}")
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) == batch distinct") {
    // duplicate the staged file so the stream sees every event twice across
    // two source files; dedup state keyed on event_id within the watermark
    val dupDir = new java.io.File(freshRoot("stream-dup"))
    dupDir.mkdirs()
    for (i <- 0 to 1)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"${dupDir.getAbsolutePath}/batch-$i.parquet"))
    val stream = Streams.eventsStream(spark, dupDir.getAbsolutePath)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy().count()
    runToMemory(stream, "dedup_out", "complete")
    val got = spark.table("dedup_out").collect().map(_.getLong(0)).max
    val want = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(got === want, s"streamed dedup count $got != batch distinct $want")
  }

  test("e12 sweep-line peak matches a driver-side interval scan; half-open boundary pinned") {
    val rows = Streams.defs.find(_.name == "e12_peak_concurrency").get
      .run(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_intervals"), r.getAs[Long]("peak"))).toMap
    assert(rows.nonEmpty)
    // driver-side reference for one instrument: sort boundaries, scan
    val ts = Tables.events(spark, sf).filter(col("event_type") === "view")
      .select("ts_us").collect().map(_.getLong(0))
    val bounds = (ts.map(t => (t, 1)) ++ ts.map(t => (t + 1800L * 1000000L, -1)))
      .sortBy { case (t, d) => (t, d) } // -1 before +1 at equal t: half-open
    var cur = 0; var peak = 0
    bounds.foreach { case (_, d) => cur += d; peak = math.max(peak, cur) }
    assert(rows("view") === ((ts.length.toLong, peak.toLong)))
    // half-open semantics: two back-to-back intervals never overlap
    val (c1, p1) = {
      val b = Seq((0L, 1), (1800000000L, -1), (1800000000L, 1), (3600000000L, -1))
        .sortBy { case (t, d) => (t, d) }
      var c = 0; var p = 0
      b.foreach { case (_, d) => c += d; p = math.max(p, c) }
      (c, p)
    }
    assert(c1 === 0 && p1 === 1, "half-open boundary order broken in the reference")
  }

  test("e10 WAU: one (user, day) activity contributes to exactly its 7 report days") {
    import spark.implicits._
    val dir = freshRoot("graft-e10")
    val day = java.time.LocalDate.of(2024, 3, 1)
    val nanos = day.toEpochDay * 86400L * 1000000000L
    // user 1 twice on one day (dedup to one pair); user 2 three days later
    Seq((1L, nanos, 1L), (2L, nanos + 3600L * 1000000000L, 1L),
      (3L, nanos + 3L * 86400L * 1000000000L, 2L))
      .map { case (id, t, u) => (id, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val d0 = day.toEpochDay
    val got = Streams.defs.find(_.name == "e10_wau").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (d0 to d0 + 9).map { rd =>
      val u1 = rd >= d0 && rd <= d0 + 6
      val u2 = rd >= d0 + 3 && rd <= d0 + 9
      (rd, Seq(u1, u2).count(identity).toLong)
    }
    assert(got.toSeq === want)
  }

  test("flatMapGroupsWithState sessionization == batch sessionize after one pass") {
    val stream = Streams.sessionizeStateful(Streams.eventsStream(spark, stageDir))
    runToMemory(stream.toDF(), "sessions_out", "update")
    // Update mode re-emits per batch; AvailableNow over one file = one batch
    val got = spark.table("sessions_out")
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = Streams.sessionize(Tables.events(spark, sf))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
  }

  test("built-in session_window agrees with the hand-rolled gap sessionization") {
    // cross-validation: Spark's native session_window (30-min gap) must
    // produce exactly as many sessions per user as Streams.sessionize's
    // lag/running-sum form — two independent formulations of the same
    // semantics (and the built-in is the streaming-native path with
    // watermarked state eviction)
    val ev = Tables.events(spark, sf)
    val native = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val handRolled = Streams.sessionize(ev)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(native.toSeq === handRolled.toSeq)
  }

  test("stream-stream interval join (click→view within 24 h) matches batch self-join") {
    val clicks = Streams.eventsStream(spark, stageDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "2 days")
    val views = Streams.eventsStream(spark, stageDir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      .withWatermark("v_ts", "2 days")
    val joined = clicks.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr("INTERVAL 24 HOURS"))
      .select("c_id", "v_id")
    runToMemory(joined, "ssjoin_out", "append")
    val got = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = Tables.events(spark, sf)
    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_us"), col("event_id").as("c_id"))
    val bv = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_us").as("v_us"), col("event_id").as("v_id"))
    val want = bc.join(bv,
      col("user_id") === col("v_user") &&
        col("v_us") >= col("c_us") &&
        col("v_us") <= col("c_us") + 86400L * 1000000L)
      .select("c_id", "v_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("stream-static broadcast enrichment matches the batch join") {
    // the canonical streaming enrichment: micro-batches join a slowly
    // changing dimension re-read per batch; broadcast keeps it shuffle-free
    // on the stream side (no watermark needed — the static side never ages)
    val tiers = Tables.events(spark, sf).select("user_id").distinct()
      .withColumn("tier", (col("user_id") % 3).cast("int"))
    val enriched = Streams.eventsStream(spark, stageDir)
      .join(broadcast(tiers), "user_id")
      .groupBy("tier", "event_type").count()
    runToMemory(enriched, "enrich_out", "complete")
    val got = spark.table("enrich_out")
      .orderBy("tier", "event_type").collect()
    val want = Tables.events(spark, sf).join(tiers, "user_id")
      .groupBy("tier", "event_type").count()
      .orderBy("tier", "event_type").collect()
    assert(got.nonEmpty)
    assert(got.toSeq === want.toSeq)
  }

  test("parquet sink + checkpoint: restart recovers exactly-once (no dupes, no losses)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = freshRoot("eo")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val chk = s"$base/chk"
    new java.io.File(inDir).mkdirs()
    val raw = spark.read.parquet(s"$sf/events.parquet")

    def addBatch(filter: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = s"$base/tmp-$name"
      raw.filter(filter).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
    }

    def transform(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("ts_us"),
        floor(col("value") * 100).cast("long").as("v100"))

    def runOnce(): Unit = {
      val q = transform(Streams.eventsStream(spark, inDir))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive, "stream did not finish")
    }

    val nAll = raw.count()
    val nA = raw.filter(col("event_id") % 2 === 0).count()

    addBatch(col("event_id") % 2 === 0, "a") // phase 1: half the events
    runOnce()
    assert(spark.read.parquet(outDir).count() === nA)

    runOnce() // restart with NO new data: checkpoint must prevent re-emits
    assert(spark.read.parquet(outDir).count() === nA, "restart duplicated rows")

    addBatch(col("event_id") % 2 === 1, "b") // phase 2: the rest arrives
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() === nAll, "lost or duplicated rows across restart")
    assert(out.select("event_id").distinct().count() === nAll)
    // value-level: the recovered streaming output equals the batch transform
    val want = transform(Tables.events(spark, sf))
    assert(out.exceptAll(want).count() === 0)
    assert(want.exceptAll(out).count() === 0)
  }

  test("dropDuplicatesWithinWatermark survives restart: re-delivered events emit once") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = freshRoot("sdedup")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val chk = s"$base/chk"
    new java.io.File(inDir).mkdirs()
    val raw = spark.read.parquet(s"$sf/events.parquet")

    def addBatch(filter: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = s"$base/tmp-$name"
      raw.filter(filter).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
    }

    def runOnce(): Unit = {
      val q = Streams.eventsStream(spark, inDir)
        // watermark far beyond the corpus time span: dedup state is kept for
        // the whole test (the operator's point is it would EVICT state once
        // event-time passes ts+delay — bounded state at scale, unlike plain
        // dropDuplicates whose state grows forever)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive, "stream did not finish")
    }

    addBatch(col("event_id") % 2 === 0, "a") // first delivery: even half
    runOnce()
    // second delivery: the odd half PLUS a re-delivery of every 4th event
    // (at-least-once upstream): the dedup state restored from the
    // checkpoint must swallow the re-delivered rows
    addBatch(col("event_id") % 2 === 1 || col("event_id") % 4 === 0, "b")
    runOnce()

    val out = spark.read.parquet(outDir)
    val nAll = raw.select("event_id").distinct().count()
    assert(out.count() === nAll, "re-delivered duplicates leaked into the sink")
    assert(out.distinct().count() === nAll)
  }

  test("streaming stateful dedup (dropDuplicates on event_id) keeps batch-distinct count") {
    val stream = Streams.eventsStream(spark, stageDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy().count()
    runToMemory(stream, "dedup_out", "complete")
    val got = spark.table("dedup_out").collect()(0).getLong(0)
    val want = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(got === want)
  }

  test("funnelStateful (flatMapGroupsWithState FSM) == batch funnelStages per user") {
    val stream = Streams.funnelStateful(Streams.eventsStream(spark, stageDir))
    runToMemory(stream.toDF(), "funnel_out", "update")
    val got = spark.table("funnel_out")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = Streams.funnelStages(Tables.events(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === want)
    assert(want.values.toSet.size > 1, "fixture must exercise multiple stages")
  }

  test("e8 funnel: strict ordering, first-touch attribution, and the conversion window") {
    import spark.implicits._
    val dir = freshRoot("graft-e8")
    val t0 = 1700000000L * 1000000000L // epoch NANOS (raw events.ts unit)
    val hour = 3600L * 1000000000L
    // u1 converts fully in-window; u2's only click precedes its first view
    // (must NOT count); u3 never views; u4's click misses the 8h window;
    // u5 clicks in-window but purchases outside it
    val rows = Seq(
      (1L, t0, 1L, "view"), (2L, t0 + hour, 1L, "click"), (3L, t0 + 2 * hour, 1L, "purchase"),
      (4L, t0, 2L, "click"), (5L, t0 + hour, 2L, "view"),
      (6L, t0, 3L, "purchase"),
      (7L, t0, 4L, "view"), (8L, t0 + 9 * hour, 4L, "click"),
      (9L, t0, 5L, "view"), (10L, t0 + hour, 5L, "click"),
      (11L, t0 + 10 * hour, 5L, "purchase"))
    rows.map { case (id, ts, u, ty) => (id, ts, u, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Streams.defs.find(_.name == "e8_funnel").get.run(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq === Seq((0, 1L), (1, 2L), (2, 1L), (3, 1L)))
  }

  test("e9 retention: hand-built two-cohort matrix") {
    import spark.implicits._
    val dir = freshRoot("graft-e9")
    def ts(day: Int): Long = // epoch NANOS (raw events.ts unit), noon UTC
      (java.time.LocalDate.of(2024, 1, 1).plusDays(day).toEpochDay * 86400L
        + 43200L) * 1000000000L
    // user 1: active weeks w, w+1, w+3 (two events in week w — deduped);
    // user 2: first active in w+1 only
    val rows = Seq((1L, ts(0), 1L), (2L, ts(1), 1L), (3L, ts(7), 1L),
      (4L, ts(21), 1L), (5L, ts(8), 2L))
    rows.map { case (id, t, u) => (id, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val w0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay / 7 // 2024-01-01 week
    val got = Streams.defs.find(_.name == "e9_retention").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((w0, 0L, 1L), (w0, 1L, 1L), (w0, 3L, 1L),
      (w0 + 1, 0L, 1L)))
  }

  test("funnelStateful state growth is bounded: rows by users, updates by batch size") {
    // four staged files -> four micro-batches (maxFilesPerTrigger=1 under
    // AvailableNow); the FSM must keep ONE state row per user ever seen
    // (dimension-bounded, never event-bounded) and touch per batch at
    // most as many state rows as the batch has events — the property
    // that keeps a long-running ingest's state flat at 100 TB of traffic.
    val d = freshRoot("stream-state")
    new java.io.File(d).mkdirs()
    val raw = spark.read.parquet(s"$sf/events.parquet")
    (0 until 4).foreach { b =>
      val tmp = s"$d-tmp-$b"
      raw.filter(pmod(col("event_id"), lit(4)) === b).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$d/b$b.parquet"))
    }
    val q = Streams.funnelStateful(
        Streams.eventsStream(spark, d, maxFilesPerTrigger = Some(1))).toDF()
      .writeStream.format("noop")
      .option("checkpointLocation", s"$d-chk")
      .outputMode("update").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    assert(prog.size === 4, s"expected 4 micro-batches, got ${prog.size}")
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    prog.foreach { p =>
      val st = p.stateOperators.head
      assert(st.numRowsTotal <= nUsers,
        s"state ${st.numRowsTotal} exceeds user dimension $nUsers")
      assert(st.numRowsUpdated <= p.numInputRows,
        s"updated ${st.numRowsUpdated} state rows for ${p.numInputRows} events")
    }
    // the final state covers exactly the users seen
    assert(prog.last.stateOperators.head.numRowsTotal === nUsers)
  }

  test("e11 sketch WAU: disjoint daily cohorts roll up to exact window widths") {
    import spark.implicits._
    // day d (0..9) has its own 10 disjoint users -> exact rolling WAU at
    // day d is 10*min(d+1, 7); HLL in its sparse regime tracks these tiny
    // cardinalities tightly, so every verdict row must be TRUE and the
    // estimates must be strictly wider than any single day once windows
    // overlap (proving the range frame really unions across days)
    val dir = freshRoot("graft-e11")
    val t0 = 1700000000L * 1000000000L
    val day = 86400L * 1000000000L
    val rows = for (d <- 0L until 10L; u <- 0L until 10L)
      yield (d * 100 + u, t0 + d * day, d * 1000 + u, "view", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val got = graft.SparkEntry.queries("e11_rolling_wau_sketch")(spark, dir)
      .collect()
    assert(got.length === 10)
    assert(got.forall(_.getBoolean(1)), s"verdicts: ${got.mkString(",")}")

    // exact cross-check through e10 on the same fixture: window widths
    val wau = graft.SparkEntry.queries("e10_wau")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d0 = got(0).getLong(0)
    (0 until 10).foreach { d =>
      assert(wau(d0 + d) === 10L * math.min(d + 1, 7), s"day $d")
    }
  }

  test("txlog stream source: stream == batch change feed over a live " +
      "table, offsets are versions, checkpoint resumes exactly") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-txlog")
    val ckpt = freshRoot("stream-txlog-ck")
    TxLog.init(spark, root,
      (0L until 100L).map(k => (k, s"v$k")).toDF("id", "s").repartition(2))
    TxLog.appendOnce(spark, root,
      "b1", (100L until 120L).map(k => (k, s"v$k")).toDF("id", "s"))
    TxLog.deleteMoR(spark, root, col("id") % 10 === 0)
    // foreachBatch sink: checkpoint-recoverable (the memory sink is not),
    // rows land in a driver buffer — test-sized only
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, String, Long)]()
    val batchVersions = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    def drain(maxVersionsPerBatch: Option[Int] = None)
        : Array[(Long, String, String, Long)] = {
      val rd = spark.readStream
        .format("graft.streaming.TxLogFeedProvider")
        .option("root", root).option("startingVersion", "1")
      val q = maxVersionsPerBatch
        .fold(rd)(n => rd.option("maxVersionsPerBatch", n.toString)).load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val rows = b.select("id", "s", "_change_type", "_commit_version")
              .as[(Long, String, String, Long)].collect()
            rows.foreach(buf.add)
            batchVersions.add(rows.map(_._4).toSet)
            ()
        }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
      val out = buf.toArray(Array.empty[(Long, String, String, Long)]).sorted
      buf.clear()
      out
    }
    // first drain: versions (1..3], RATE-LIMITED to one version per
    // micro-batch — AvailableNow must still drain the whole backlog
    // (the source pins the available ceiling at prepare time) in
    // version-bounded steps, not one giant batch
    val want1 = TxLog.readChanges(spark, root, 1L, 3L)
      .select("id", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().sorted
    val got1 = drain(maxVersionsPerBatch = Some(1))
    assert(got1 === want1, "stream must equal the batch change feed")
    assert(got1.nonEmpty && got1.exists(_._3 == "delete"))
    val perBatch = batchVersions.toArray(Array.empty[Set[Long]])
    batchVersions.clear()
    assert(perBatch.filter(_.nonEmpty).forall(_.size == 1),
      s"maxVersionsPerBatch=1 must bound every micro-batch to one " +
        s"version, got ${perBatch.toSeq}")
    assert(perBatch.filter(_.nonEmpty).length >= 2,
      "the backlog spans two versions — AvailableNow must have drained " +
        "it as multiple rate-limited batches")
    // the table keeps moving while the stream is down; the checkpoint
    // resumes at version 3 and delivers ONLY (3..5] — including through
    // a compact (invisible) and an upsert (attributed)
    TxLog.compact(spark, root, targetFiles = 2)
    TxLog.upsert(spark, root,
      Seq((5L, "UP"), (200L, "new")).toDF("id", "s"), "id")
    val want2 = TxLog.readChanges(spark, root, 3L, 5L)
      .select("id", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().sorted
    val got2 = drain()
    assert(got2 === want2, "resumed stream must deliver exactly the new range")
    assert(!got2.exists(_._4 == 4L), "the compact version must be invisible")
    // appends-only mode (readAppended semantics: pure-append ranges —
    // the right source shape for an append-only event table)
    val root2 = freshRoot("stream-txlog-app")
    TxLog.init(spark, root2,
      (0L until 50L).map(k => (k, s"v$k")).toDF("id", "s"))
    TxLog.appendOnce(spark, root2, "a1",
      (50L until 70L).map(k => (k, s"v$k")).toDF("id", "s"))
    TxLog.appendOnce(spark, root2, "a2",
      (70L until 80L).map(k => (k, s"v$k")).toDF("id", "s"))
    val qa = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root2).option("mode", "appends")
      .option("startingVersion", "1").load()
      .writeStream.format("memory").queryName("txapp")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt-app")
      .trigger(Trigger.AvailableNow()).start()
    qa.awaitTermination(120000)
    val gotA = spark.table("txapp").select("id").as[Long].collect().sorted
    val wantA = TxLog.readAppended(spark, root2, 1L)
      .select("id").as[Long].collect().sorted
    assert(gotA === wantA && gotA.length === 30)
    // startingTimestamp anchors through the exact manifest commit headers:
    // v1's own timestamp resolves to "start after v1" — same 30 rows
    val t1 = TxLog.history(root2).find(_.version == 1L).get.timestampMs.get
    val qt = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root2).option("mode", "appends")
      .option("startingTimestamp", t1.toString).load()
      .writeStream.format("memory").queryName("txappts")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt-appts")
      .trigger(Trigger.AvailableNow()).start()
    qt.awaitTermination(120000)
    assert(spark.table("txappts").count() === 30L)
  }

  /** Drain one AvailableNow pass of the txlog feed into a driver buffer,
    * returning (rows as (id, commitVersion), delivered column names).
    * Shared by the schema-evolution and retention pins below. */
  private def drainFeed(root: String, ckpt: String)
      : (Seq[(Long, Long)], Seq[String]) = {
    import spark.implicits._
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var cols: Seq[String] = Seq.empty
    val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("startingVersion", "1").load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          cols = b.columns.toSeq
          b.select(col("id"), col("_commit_version"))
            .as[(Long, Long)].collect().foreach(buf.add)
          ()
      }.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    (buf.toArray(Array.empty[(Long, Long)]).toSeq.sorted, cols)
  }

  /** Root cause of a failed streaming query, unwrapped to the deepest
    * non-null cause (the engine wraps source errors in
    * StreamingQueryException layers). */
  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).reduceLeft((_, c) => c)

  test("txlog stream source schema evolution: additive commits flow " +
      "under the pinned schema; a rename raises the typed restart error") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-evo")
    val ckpt = freshRoot("stream-evo-ck")
    TxLog.init(spark, root,
      (0L until 10L).map(k => (k, s"v$k")).toDF("id", "s"))
    // a CONTINUOUSLY RUNNING query — the pin predates every evolution
    // below (an AvailableNow restart would re-pin the current schema,
    // which is exactly the restart contract, not the mid-stream one)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var cols: Seq[String] = Seq.empty
    val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("startingVersion", "1").load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!b.isEmpty) cols = b.columns.toSeq
          b.select(col("id"), col("_commit_version"))
            .as[(Long, Long)].collect().foreach(buf.add)
          ()
      }.option("checkpointLocation", ckpt).start()
    try {
      // v2: plain append flows
      TxLog.appendOnce(spark, root, "b1",
        (10L until 20L).map(k => (k, s"v$k")).toDF("id", "s"))
      q.processAllAvailable()
      assert(buf.toArray(Array.empty[(Long, Long)]).toSeq.sorted ===
        (10L until 20L).map((_, 2L)))
      // v3: ADDITIVE evolution mid-stream — the appended batch brings a
      // new column the running stream's pin lacks: rows still flow, the
      // new column stays invisible until restart (documented)
      TxLog.appendOnce(spark, root, "b2",
        (20L until 25L).map(k => (k, s"v$k", k * 2)).toDF("id", "s", "extra"))
      q.processAllAvailable()
      assert(buf.toArray(Array.empty[(Long, Long)]).toSeq.sorted ===
        ((10L until 20L).map((_, 2L)) ++ (20L until 25L).map((_, 3L))))
      assert(cols.contains("s") && !cols.contains("extra"),
        "additive evolution must stay invisible under the pinned schema")
      // v4: RENAME mid-stream — the running query must fail with the
      // TYPED restart-required error, never misbind the old name
      TxLog.renameColumn(spark, root, "s", "body")
      TxLog.appendOnce(spark, root, "b3",
        (25L until 30L).map(k => (k, s"v$k", k * 2)).toDF("id", "body", "extra"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(120000)
      }
      val cause = rootCause(ex)
      assert(cause.isInstanceOf[TxLogStreamSchemaChangedException],
        s"expected the typed schema-changed refusal, got $cause")
      assert(cause.getMessage.contains("restart"))
    } finally if (q.isActive) q.stop()
    // the loud-restart contract is recoverable: a restarted query (fresh
    // pin = post-rename schema) resumes from the SAME checkpoint and
    // reads the remaining range under the new name — versions after the
    // rename are admissible against the new pin (the memory sink cannot
    // recover a checkpoint, so the restart drains through foreachBatch)
    val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var cols2: Seq[String] = Seq.empty
    val q2 = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("startingVersion", "1").load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!b.isEmpty) cols2 = b.columns.toSeq
          b.select(col("id"), col("_commit_version"))
            .as[(Long, Long)].collect().foreach(buf2.add)
          ()
      }.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(!q2.isActive)
    assert(cols2.contains("body") && !cols2.contains("s"))
    assert(cols2.contains("extra"))
    assert(buf2.toArray(Array.empty[(Long, Long)]).toSeq.map(_._1).sorted ===
      (25L until 30L))
  }

  test("txlog stream source APPENDS mode: the schema admission applies " +
      "there too — additive flows projected, a rename refuses typed") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-evo-app")
    val ckpt = freshRoot("stream-evo-app-ck")
    TxLog.init(spark, root,
      (0L until 5L).map(k => (k, s"v$k")).toDF("id", "s"))
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    @volatile var cols: Seq[String] = Seq.empty
    val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("mode", "appends")
      .option("startingVersion", "1").load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!b.isEmpty) cols = b.columns.toSeq
          b.select(col("id")).as[Long].collect()
            .foreach(v => buf.add(java.lang.Long.valueOf(v)))
          ()
      }.option("checkpointLocation", ckpt).start()
    try {
      TxLog.appendOnce(spark, root, "b1",
        (5L until 10L).map(k => (k, s"v$k", k)).toDF("id", "s", "extra"))
      q.processAllAvailable()
      assert(buf.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
        .sorted === (5L until 10L))
      assert(cols.contains("s") && !cols.contains("extra"),
        "appends mode must project additive evolution onto the pin too")
      TxLog.renameColumn(spark, root, "s", "body")
      TxLog.appendOnce(spark, root, "b2",
        Seq((10L, "x", 1L)).toDF("id", "body", "extra"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(120000)
      }
      assert(rootCause(ex).isInstanceOf[TxLogStreamSchemaChangedException])
    } finally if (q.isActive) q.stop()
  }

  test("txlog stream source maxBytesPerBatch: newly-referenced bytes " +
      "bound each micro-batch, soft-capped at one version minimum") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-bytes")
    TxLog.init(spark, root,
      (0L until 10L).map(k => (k, s"v$k")).toDF("id", "s"))
    // two tiny appends (a few KB each) and one large one (hundreds of KB)
    TxLog.appendOnce(spark, root, "small1",
      Seq((100L, "a")).toDF("id", "s"))
    TxLog.appendOnce(spark, root, "small2",
      Seq((101L, "b")).toDF("id", "s"))
    TxLog.appendOnce(spark, root, "big",
      (1000L until 201000L).map(k => (k, s"x$k$k$k")).toDF("id", "s")
        .repartition(2))
    val want = TxLog.readChanges(spark, root, 1L, 4L)
      .select(col("id"), col("_commit_version"))
      .as[(Long, Long)].collect().sorted
    val batchVersions =
      new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def drain(tag: String, budget: Long): Seq[Set[Long]] = {
      batchVersions.clear(); buf.clear()
      val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
        .option("root", root).option("startingVersion", "1")
        .option("maxBytesPerBatch", budget.toString).load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val rows = b.select(col("id"), col("_commit_version"))
              .as[(Long, Long)].collect()
            rows.foreach(buf.add)
            batchVersions.add(rows.map(_._2).toSet)
            ()
        }.option("checkpointLocation",
          freshRoot(s"stream-bytes-ck-$tag"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
      assert(buf.toArray(Array.empty[(Long, Long)]).sorted === want,
        s"byte-capped drain ($tag) must deliver the exact change feed")
      batchVersions.toArray(Array.empty[Set[Long]]).toSeq.filter(_.nonEmpty)
    }
    // budget=1 byte: every version exceeds it alone, so the soft cap
    // (at least one version per batch) must yield one version per batch
    val one = drain("one", 1L)
    assert(one.forall(_.size == 1) && one.flatten.toSet === Set(2L, 3L, 4L),
      s"budget=1 must deliver one version per micro-batch, got $one")
    // budget=64KB: the two tiny appends group into one batch, the large
    // one exceeds the budget and lands alone
    val mid = drain("mid", 64L * 1024)
    assert(mid === Seq(Set(2L, 3L), Set(4L)),
      s"64KB budget must group the small versions and isolate the big " +
        s"one, got $mid")
    // effectively-unbounded budget: the whole backlog is one batch
    val all = drain("all", Long.MaxValue / 2)
    assert(all === Seq(Set(2L, 3L, 4L)),
      s"an unbounded budget must drain the backlog in one batch, got $all")
  }

  test("startingVersion keywords: earliest replays the retained history, " +
      "latest delivers only new commits") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-kw")
    TxLog.init(spark, root, Seq((1L, "a")).toDF("id", "s"))
    TxLog.appendOnce(spark, root, "b1", Seq((2L, "b")).toDF("id", "s"))
    def drainKw(kw: String, appendFirst: Boolean): Seq[Long] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
        .option("root", root).option("mode", "appends")
        .option("startingVersion", kw).load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            b.select(col("id")).as[Long].collect()
              .foreach(v => buf.add(java.lang.Long.valueOf(v)))
            ()
        }.option("checkpointLocation",
          freshRoot(s"stream-kw-ck-$kw"))
        .start()
      try {
        // force source creation (the anchor resolves in createSource on
        // the stream thread) BEFORE any post-start append — otherwise
        // `latest` could resolve after the append and race the assertion
        q.processAllAvailable()
        if (appendFirst)
          TxLog.appendOnce(spark, root, s"n-$kw",
            Seq((100L, "n")).toDF("id", "s"))
        q.processAllAvailable()
      } finally q.stop()
      buf.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue).sorted
    }
    // earliest: the whole retained history flows (init + append)
    assert(drainKw("earliest", appendFirst = false) === Seq(1L, 2L))
    // latest: only the commit that lands AFTER stream start flows
    assert(drainKw("latest", appendFirst = true) === Seq(100L))
  }

  test("maxBytesPerBatch composes with retention: a byte-capped walk " +
      "over a pruned range raises the typed error, never a silent stall") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-bytes-ret")
    TxLog.init(spark, root, Seq((1L, "a")).toDF("id", "s"))
    TxLog.appendOnce(spark, root, "b1", Seq((2L, "b")).toDF("id", "s"))
    TxLog.appendOnce(spark, root, "b2", Seq((3L, "c")).toDF("id", "s"))
    TxLog.pruneHistory(root, keepLast = 1)
    // a consumer anchored below the prune floor with a byte budget: the
    // byteCap walk hits the pruned manifest FIRST — it must raise the
    // same typed retention contract the plain admission path does (a
    // silent cap at the gap would return "no progress" forever)
    val src = new TxLogFeedSource(spark,
      TxLogFeedSource.Opts(root, "changes", Some(0L), None, Some(1024L)))
    val ex = intercept[TxLogStreamRetentionException] {
      src.latestOffset(null,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
    assert(ex.earliest === Some(3L),
      s"refusal must name the earliest retained version, got ${ex.earliest}")
  }

  test("txlog stream source retention: a checkpoint behind the prune " +
      "floor gets the typed refusal naming the earliest version; " +
      "within-retention resume is exact") {
    import graft.operators.TxLog
    import spark.implicits._
    def build(tag: String): (String, String) = {
      val root = freshRoot(s"stream-ret-$tag")
      val ckpt = freshRoot(s"stream-ret-ck-$tag")
      TxLog.init(spark, root,
        (0L until 10L).map(k => (k, s"v$k")).toDF("id", "s"))
      TxLog.appendOnce(spark, root, "b1",
        (10L until 15L).map(k => (k, s"v$k")).toDF("id", "s"))
      val (rows, _) = drainFeed(root, ckpt) // checkpoint now at v2
      assert(rows.map(_._1) === (10L until 15L))
      // the table keeps moving while the consumer is down
      TxLog.appendOnce(spark, root, "b2",
        (15L until 18L).map(k => (k, s"v$k")).toDF("id", "s"))
      TxLog.appendOnce(spark, root, "b3",
        (18L until 20L).map(k => (k, s"v$k")).toDF("id", "s"))
      (root, ckpt)
    }
    // CONTROL: prune WITHIN retention (checkpoint floor v2 survives) —
    // resume delivers exactly (2..4], indistinguishable from no prune
    val (rootOk, ckptOk) = build("ok")
    TxLog.pruneHistory(rootOk, keepLast = 3) // keeps v2, v3, v4
    val (rowsOk, _) = drainFeed(rootOk, ckptOk)
    assert(rowsOk === ((15L until 18L).map((_, 3L)) ++
      (18L until 20L).map((_, 4L))).sorted)
    // REFUSAL: prune PAST the checkpoint (only v4 retained) — the resumed
    // query must fail with the typed retention error naming the earliest
    // retained version, never deliver a wrong-empty or partial batch
    val (rootBad, ckptBad) = build("bad")
    TxLog.pruneHistory(rootBad, keepLast = 1) // v2/v3 manifests gone
    val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", rootBad).option("startingVersion", "1").load()
      .writeStream.foreachBatch {
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => ()
      }.option("checkpointLocation", ckptBad)
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
      q.processAllAvailable()
    }
    val cause = rootCause(ex)
    assert(cause.isInstanceOf[TxLogStreamRetentionException],
      s"expected the typed retention refusal, got $cause")
    assert(cause.getMessage.contains("earliest retained version is 4"))
  }

  test("startingVersion=earliest on a PRUNED log: the first batch " +
      "synthesizes the earliest snapshot as inserts, later commits flow") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-earliest-pruned")
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v1
    TxLog.appendOnce(spark, root, "b1", Seq((3L, "c")).toDF("id", "s")) // v2
    TxLog.delete(spark, root, col("id") === 1L) // v3 (COW rewrite)
    TxLog.pruneHistory(root, keepLast = 1) // only v3 retained
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("startingVersion", "earliest").load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.select(col("id"), col("_change_type"), col("_commit_version"))
            .as[(Long, String, Long)].collect().foreach(buf.add)
          ()
      }.option("checkpointLocation",
        freshRoot("stream-earliest-pruned-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // snapshot v3 = {2, 3}, delivered as inserts tagged with v3 itself —
    // the pre-prune history (including the delete of id 1) is
    // unrecoverable, so the earliest replayable truth is v3's state
    assert(buf.toArray(Array.empty[(Long, String, Long)]).toSeq.sorted ===
      Seq((2L, "insert", 3L), (3L, "insert", 3L)))
    // a commit landing AFTER the synthesized batch flows normally
    TxLog.appendOnce(spark, root, "b2", Seq((4L, "d")).toDF("id", "s")) // v4
    val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q2 = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("startingVersion", "earliest").load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.select(col("id"), col("_change_type"), col("_commit_version"))
            .as[(Long, String, Long)].collect().foreach(buf2.add)
          ()
      }.option("checkpointLocation",
        freshRoot("stream-earliest-pruned-ck2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(buf2.toArray(Array.empty[(Long, String, Long)]).toSeq.sorted ===
      Seq((2L, "insert", 3L), (3L, "insert", 3L), (4L, "insert", 4L)))
    // the STRICT contract survives for explicit numeric anchors: an
    // unretained startingVersion refuses with the typed retention error
    val src = new TxLogFeedSource(spark,
      TxLogFeedSource.Opts(root, "changes", Some(1L), None, None))
    intercept[TxLogStreamRetentionException] {
      src.latestOffset(null,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
    // and a genesis anchor (startingVersion 0) on the pruned log gets
    // the SAME typed refusal from the plain admission path — not an
    // untyped reader error out of the batch internals
    val src0 = new TxLogFeedSource(spark,
      TxLogFeedSource.Opts(root, "changes", Some(0L), None, None))
    val ex0 = intercept[TxLogStreamRetentionException] {
      src0.latestOffset(null,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
    assert(ex0.earliest === Some(3L))
  }

  test("appends-mode stream: a multi-version batch straddling an " +
      "intra-range COW rewrite refuses loudly (no silent survivor rows)") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = freshRoot("stream-straddle")
    TxLog.init(spark, root, Seq((1L, "a")).toDF("id", "s")) // v1
    TxLog.appendOnce(spark, root, "b1",
      Seq((2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1)) // v2
    TxLog.delete(spark, root, col("id") === 2L) // v3: COW rewrite of v2's file
    // one catch-up batch spans (1, 3] — the per-version append-only walk
    // must refuse (an endpoint diff would deliver the survivor file's
    // rows as "appends" while the delete vanished)
    val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("mode", "appends")
      .option("startingVersion", "1").load()
      .writeStream.foreachBatch {
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => ()
      }.option("checkpointLocation",
        freshRoot("stream-straddle-ck"))
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
      q.processAllAvailable()
    }
    val cause = rootCause(ex)
    assert(cause.getMessage.contains("removed or rewrote"),
      s"expected the append-only refusal, got $cause")
  }

  test("type widening vs the stream pin: pre-widening vintages upcast " +
      "under a post-widening pin; a widening AFTER the pin raises the " +
      "typed restart error") {
    import graft.operators.TxLog
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val root = freshRoot("widen-stream")
    TxLog.init(spark, root, Seq((1, "a")).toDF("id", "s")) // v1: int id
    TxLog.setProperties(root, Map("type_widening" -> "true")) // v2: opt-in
    TxLog.commitAppend(spark, root,
      Seq((3000000000L, "b")).toDF("id", "s"), expected = 2L) // v3: widens
    // pin is v2's wide schema; the replay range includes narrow v1 —
    // admission upcasts instead of refusing the old vintage
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", root).option("startingVersion", "0").load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          assert(b.schema("id").dataType === LongType)
          b.select(col("id")).as[Long].collect()
            .foreach(v => buf.add(java.lang.Long.valueOf(v)))
          ()
      }.option("checkpointLocation",
        freshRoot("widen-stream-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(buf.toArray(Array.empty[java.lang.Long]).map(_.longValue)
      .sorted.toSeq === Seq(1L, 3000000000L))
    // the inverse cannot be represented (wide rows under a narrow pin
    // would truncate): the typed restart contract, unchanged
    val root2 = freshRoot("widen-stream2")
    TxLog.init(spark, root2, Seq((1, "a")).toDF("id", "s")) // v1
    TxLog.setProperties(root2, Map("type_widening" -> "true")) // v2
    val src2 = new TxLogFeedSource(spark,
      TxLogFeedSource.Opts(root2, "changes", Some(0L), None, None))
    TxLog.commitAppend(spark, root2,
      Seq((3000000000L, "b")).toDF("id", "s"), expected = 2L) // v3: widens
    // first trigger: the batch ends at the last admissible version (v2)
    val allAvail =
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    val end1 = src2.latestOffset(null, allAvail)
    assert(end1.json.trim.toLong === 2L,
      "the batch must end before the widening commit")
    // next trigger: the widening version itself refuses — the typed
    // restart contract
    val ex = intercept[TxLogStreamSchemaChangedException] {
      src2.latestOffset(
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(2L),
        allAvail)
    }
    assert(ex.getMessage.contains("retyped"))
    // a post-pin NARROWING (overwrite retypes bigint → int) refuses the
    // same way — an upcast could read it, but a post-pin width change is
    // a schema change the pinned consumer must learn about loudly
    val root3 = freshRoot("widen-stream3")
    TxLog.init(spark, root3, Seq((3000000000L, "a")).toDF("id", "s"))
    val src3 = new TxLogFeedSource(spark,
      TxLogFeedSource.Opts(root3, "changes", Some(0L), None, None))
    TxLog.commitOverwrite(spark, root3,
      Seq((1, "b")).toDF("id", "s"), expected = 1L) // narrows id to int
    assert(src3.latestOffset(null, allAvail).json.trim.toLong === 1L,
      "the batch must end before the narrowing commit")
    intercept[TxLogStreamSchemaChangedException] {
      src3.latestOffset(
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L),
        allAvail)
    }
  }

  test("synthetic earliest floor applies ONLY to the stream's first " +
      "batch: a re-anchored floor with a start offset refuses typed, " +
      "and a checkpoint restart never re-synthesizes the snapshot") {
    import graft.operators.TxLog
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    import spark.implicits._
    val allAvail =
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    val root = freshRoot("stream-synthfloor")
    TxLog.init(spark, root, Seq((1L, "a")).toDF("id", "s")) // v1
    TxLog.appendOnce(spark, root, "b2", Seq((2L, "b")).toDF("id", "s")) // v2
    TxLog.appendOnce(spark, root, "b3", Seq((3L, "c")).toDF("id", "s")) // v3
    TxLog.pruneHistory(root, keepLast = 1) // earliest = 3 → synth anchor 2
    val src = new TxLogFeedSource(spark,
      TxLogFeedSource.Opts(root, "changes", Some(2L), None, None,
        anchorSynth = true))
    // null start (the true first trigger): the synthetic floor applies
    assert(src.latestOffset(null, allAvail).json.trim.toLong === 3L)
    // the SAME floor arriving as a checkpointed offset (the crash-replay
    // of a later uncommitted range after a further prune re-anchored
    // `earliest`) must take the strict path: typed retention refusal,
    // never a duplicate snapshot delivery
    intercept[TxLogStreamRetentionException] {
      src.latestOffset(LongOffset(2L), allAvail)
    }
    // end-to-end: a checkpointed earliest stream RESTARTS from its
    // committed offset — no re-synthesis, no duplicates
    val ckpt = freshRoot("stream-synthfloor-ck")
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.TxLogFeedProvider")
        .option("root", root).option("startingVersion", "earliest").load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            b.select(col("id")).as[Long].collect()
              .foreach(v => buf.add(java.lang.Long.valueOf(v)))
            ()
        }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drainOnce() // snapshot v3 = {1,2,3} as inserts
    TxLog.appendOnce(spark, root, "b4", Seq((4L, "d")).toDF("id", "s")) // v4
    drainOnce() // restart: only (3,4] flows
    assert(buf.toArray(Array.empty[java.lang.Long]).map(_.longValue)
      .sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }
}
