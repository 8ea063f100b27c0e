package graft.streaming

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time operators over the `events` table (SURVEY §7.1 step 6 — the
  * reference has no streaming at all; this is the Structured Streaming
  * extension surface).
  *
  * Batch and stream share the SAME transformations: `tumbling`/`sliding`/
  * `sessionize` take any DataFrame with (ts, ts_us, user_id, event_type,
  * value), so the oracled batch entries below and the micro-batch streaming
  * tests (StreamingSpec) exercise one code path — which is the point of the
  * DataFrame-unified model.
  *
  * Scale design: windowed aggregation keys are (window, type) — the shuffle
  * is by window bucket, bounded state; with `withWatermark` the stream
  * variant evicts state after 1 hour of lateness. Sessionization in batch is
  * a per-user window (shuffle on user_id, sort within user); the streaming
  * form of the same thing is flatMapGroupsWithState keyed by user — both
  * partition by user, never a global order.
  *
  * Cross-engine determinism: all window arithmetic is integer math on
  * epoch MICROSECONDS (`ts_us`, exact BIGINT) — window starts are
  * `(ts_us div window_us) * window_s` — so Spark and the oracle compute
  * bit-identical keys; per-row `floor(value*100)` is IEEE-deterministic and
  * its BIGINT sum commutes.
  */
object Streams {

  private val HourUs = 3600L * 1000000L
  private val HalfHourUs = 1800L * 1000000L

  /** e8 conversion window: a stage only counts if it happens within this
    * long after the previous stage's first touch (8 h — chosen so the
    * stages genuinely discriminate on this corpus). */
  private val FunnelWindowUs = 28800L * 1000000L

  /** Tumbling 1-hour event-time windows per event type. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("ck_value"))
      .select(unix_timestamp(col("win.start")).as("win_start"),
        col("event_type"), col("n"), col("ck_value"))

  /** Sliding 1-hour windows every 30 minutes (each event in 2 windows). */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("ck_value"))
      .select(unix_timestamp(col("win.start")).as("win_start"), col("n"), col("ck_value"))

  /** 30-minute-gap sessionization per user (batch form: lag + running sum
    * of session breaks — same semantics the stateful streaming variant in
    * StreamingSpec implements with flatMapGroupsWithState). */
  def sessionize(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .withColumn("brk",
        when(col("ts_us") - lag("ts_us", 1).over(byUser) > HalfHourUs, 1).otherwise(0))
      .groupBy("user_id")
      .agg((sum("brk") + 1).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** Interval join: every click paired with EVERY view of the same user
    * that it follows within 30 minutes — the stream-stream join shape
    * (vs AsOfJoin's latest-match-only). The time-range condition is on
    * the event-time TIMESTAMP columns, which is exactly what lets
    * Structured Streaming bound join state: with a watermark on both
    * sides, a buffered view can be evicted once the click-side watermark
    * passes v_ts + 30min. Batch and stream run this same function
    * (StreamingSpec pins stream == batch on one pass). */
  def clickViewIntervalJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_uid"), col("ts").as("v_ts"),
      col("event_id").as("view_id"))
    val c = clicks.select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
      col("event_id").as("click_id"))
    c.join(v, col("c_uid") === col("v_uid") &&
      col("c_ts") >= col("v_ts") &&
      col("c_ts") < col("v_ts") + expr("INTERVAL 30 MINUTES"))
  }

  val defs: Seq[QueryDef] = Seq(
    // E4: batch twin of the stream-stream interval join — per-user pair
    // count + id checksum keeps the oracled result compact while pinning
    // the full pair multiset (each pair contributes click_id + view_id).
    QueryDef("e4_interval_join",
      """SELECT c.user_id,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(c.event_id + v.event_id) AS BIGINT) AS ck
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND epoch_us(c.ts) >= epoch_us(v.ts)
        | AND epoch_us(c.ts) < epoch_us(v.ts) + 1800000000
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      clickViewIntervalJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"))
        .groupBy(col("c_uid").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("click_id") + col("view_id")).as("ck"))
        .orderBy("user_id")
    },

    // E5: OHLC bar resampling — THE stock-engine operation (the reference
    // is a stock analytics program; its users downsample ticks to bars).
    // open/close are the first/last value per hour bucket in (ts,
    // event_id) order — expressed as rank-1 rows under two window passes
    // over the SAME bucket shuffle (no min_by-on-packed-rank overflow
    // games, deterministic in both engines); high/low/volume are plain
    // aggregates. One shuffle on the bucket; integer checksums off the
    // float grid.
    QueryDef("e5_ohlc_bars",
      """WITH b AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket,
        |                  epoch_us(ts) AS us, event_id, value
        |           FROM events),
        |r AS (SELECT bucket, value,
        |             row_number() OVER (PARTITION BY bucket ORDER BY us, event_id) AS rn_a,
        |             row_number() OVER (PARTITION BY bucket ORDER BY us DESC, event_id DESC) AS rn_d
        |      FROM b)
        |SELECT bucket,
        |       CAST(max(CASE WHEN rn_a = 1 THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS open_ck,
        |       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS high_ck,
        |       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS low_ck,
        |       CAST(max(CASE WHEN rn_d = 1 THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS close_ck,
        |       CAST(count(*) AS BIGINT) AS volume
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select((col("ts_us") - pmod(col("ts_us"), lit(HourUs))).as("us0"),
          col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("long").as("ck"))
        .withColumn("bucket", (col("us0") / 1000000L).cast("long"))
      val asc = Window.partitionBy("bucket").orderBy(col("ts_us").asc, col("event_id").asc)
      val desc = Window.partitionBy("bucket").orderBy(col("ts_us").desc, col("event_id").desc)
      ev.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy("bucket")
        .agg(max(when(col("rn_a") === 1, col("ck"))).as("open_ck"),
          max(col("ck")).as("high_ck"),
          min(col("ck")).as("low_ck"),
          max(when(col("rn_d") === 1, col("ck"))).as("close_ck"),
          count(lit(1)).as("volume"))
        .orderBy("bucket")
    },

    // E7: per-instrument OHLC — e5's bars keyed by (event_type, hour):
    // the multi-instrument form (§2.7's "per-date grouped OHLC"), where
    // event_type stands in for the ticker. Same two-window rank-1
    // open/close trick; the shuffle key just widens to (type, bucket), so
    // at scale each instrument's bars build independently — no
    // single-series bottleneck anywhere.
    QueryDef("e7_ohlc_by_instrument",
      """WITH b AS (SELECT event_type, (epoch_us(ts) // 3600000000) * 3600 AS bucket,
        |                  epoch_us(ts) AS us, event_id, value
        |           FROM events),
        |r AS (SELECT event_type, bucket, value,
        |             row_number() OVER (PARTITION BY event_type, bucket ORDER BY us, event_id) AS rn_a,
        |             row_number() OVER (PARTITION BY event_type, bucket ORDER BY us DESC, event_id DESC) AS rn_d
        |      FROM b)
        |SELECT event_type, bucket,
        |       CAST(max(CASE WHEN rn_a = 1 THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS open_ck,
        |       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS high_ck,
        |       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS low_ck,
        |       CAST(max(CASE WHEN rn_d = 1 THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS close_ck,
        |       CAST(count(*) AS BIGINT) AS volume
        |FROM r GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          (col("ts_us") - pmod(col("ts_us"), lit(HourUs))).as("us0"),
          col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("long").as("ck"))
        .withColumn("bucket", (col("us0") / 1000000L).cast("long"))
      val asc = Window.partitionBy("event_type", "bucket")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val desc = Window.partitionBy("event_type", "bucket")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      ev.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy("event_type", "bucket")
        .agg(max(when(col("rn_a") === 1, col("ck"))).as("open_ck"),
          max(col("ck")).as("high_ck"),
          min(col("ck")).as("low_ck"),
          max(when(col("rn_d") === 1, col("ck"))).as("close_ck"),
          count(lit(1)).as("volume"))
        .orderBy("event_type", "bucket")
    },

    // E6: calendar gap-fill — the dense hour spine (over ALL events' time
    // range) left-joined against the per-hour PURCHASE counts, so silent
    // hours surface as explicit zero rows (resampling's other half: a bar
    // chart or forward-fill needs the empty buckets to EXIST; purchases
    // are sparse enough here that 47 of 720 hours are genuinely empty —
    // the gap path is exercised, not vacuously green). The spine is
    // sequence+explode off a one-row min/max aggregate — generated, never
    // scanned.
    QueryDef("e6_gap_fill",
      """WITH bounds AS (SELECT (min(epoch_us(ts)) // 3600000000) * 3600 AS lo,
        |                      (max(epoch_us(ts)) // 3600000000) * 3600 AS hi
        |               FROM events),
        |spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS bucket FROM bounds),
        |cnt AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket,
        |               CAST(count(*) AS BIGINT) AS n
        |        FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT s.bucket, coalesce(c.n, 0) AS n, (c.n IS NULL) AS is_gap
        |FROM spine s LEFT JOIN cnt c USING (bucket)
        |ORDER BY s.bucket""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(((col("ts_us") - pmod(col("ts_us"), lit(HourUs))) / 1000000L)
          .cast("long").as("bucket"), col("event_type"))
      val bounds = ev.agg(min("bucket").as("lo"), max("bucket").as("hi"))
      val spine = bounds.select(explode(
        sequence(col("lo"), col("hi"), lit(3600L))).as("bucket"))
      val cnt = ev.filter(col("event_type") === "purchase")
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      spine.join(cnt, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("is_gap"))
        .orderBy("bucket")
    },

    // E1: tumbling event-time window — the stream-native form of the
    // reference's "per time bucket" analytics.
    QueryDef("e1_tumbling_window",
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS win_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS ck_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, dir) =>
      tumbling(Tables.events(s, dir)).orderBy("win_start", "event_type")
    },

    // E2: sliding window, 1h length / 30m slide — the oracle reproduces
    // Spark's epoch-aligned window set as two tumbling half-hour grids.
    QueryDef("e2_sliding_window",
      """WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
        |w AS (
        |  SELECT (us // 1800000000) * 1800 AS win_start, value FROM e
        |  UNION ALL
        |  SELECT (us // 1800000000) * 1800 - 1800 AS win_start, value FROM e)
        |SELECT win_start, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS ck_value
        |FROM w GROUP BY win_start
        |ORDER BY win_start""".stripMargin) { (s, dir) =>
      sliding(Tables.events(s, dir)).orderBy("win_start")
    },

    // E3: per-user 30-minute-gap sessionization — the batch twin of
    // stateful streaming session windows.
    QueryDef("e3_sessionize",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
        |x AS (SELECT user_id,
        |        CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |                  > 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM e)
        |SELECT user_id, CAST(1 + sum(brk) AS BIGINT) AS n_sessions,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM x GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      sessionize(Tables.events(s, dir)).orderBy("user_id")
    },

    // E8: ordered conversion funnel (view → click → purchase) with a
    // conversion window — the product-analytics sequence query: a user
    // reaches stage 2 only with a click STRICTLY AFTER their first view
    // and within the window, stage 3 only with a purchase strictly after
    // (and within the window of) that click. First-touch attribution;
    // same-microsecond ties don't advance — strictness both engines
    // share. Timestamps compare as exact epoch-microsecond BIGINTs, so
    // stage assignment is integer-deterministic.
    //
    // Scale shape: three keyed aggregations over the user_id partitioning
    // (the stage-k frame is ALREADY keyed by user — each join is
    // co-partitioned after the first shuffle); per-stage frames shrink
    // monotonically (only converting users survive); the final result is
    // a 4-row grouped count. No windows over the full event stream, no
    // per-user state beyond three BIGINTs.
    QueryDef("e8_funnel",
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |tv AS (SELECT user_id, min(us) AS tv FROM ev
        |       WHERE event_type = 'view' GROUP BY user_id),
        |tc AS (SELECT e.user_id, min(e.us) AS tc FROM ev e
        |       JOIN tv ON e.user_id = tv.user_id
        |       WHERE e.event_type = 'click' AND e.us > tv.tv
        |         AND e.us <= tv.tv + $FunnelWindowUs GROUP BY e.user_id),
        |tp AS (SELECT e.user_id, min(e.us) AS tp FROM ev e
        |       JOIN tc ON e.user_id = tc.user_id
        |       WHERE e.event_type = 'purchase' AND e.us > tc.tc
        |         AND e.us <= tc.tc + $FunnelWindowUs GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT CASE WHEN tp.tp IS NOT NULL THEN 3
        |            WHEN tc.tc IS NOT NULL THEN 2
        |            WHEN tv.tv IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM u LEFT JOIN tv USING (user_id) LEFT JOIN tc USING (user_id)
        |       LEFT JOIN tp USING (user_id)
        |GROUP BY 1 ORDER BY stage""".stripMargin) { (s, dir) =>
      funnelStages(Tables.events(s, dir))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    },

    // E9: weekly cohort retention — the product-analytics matrix: users
    // cohorted by their first active week, then counted in each later
    // week they return. Weeks are epoch-day div 7 (calendar-convention-
    // free integer arithmetic both engines share; ISO week-of-year
    // semantics differ across engines and roll over at year ends).
    //
    // Scale shape: distinct (user, week) and min-week-per-user are both
    // keyed by user_id, so the join back is co-partitioned after ONE
    // shuffle of the (already deduplicated) activity pairs — the raw
    // event stream is never shuffled twice. The output is a ≤ (weeks ×
    // weeks) matrix regardless of input size.
    QueryDef("e9_retention",
      """WITH a AS (SELECT DISTINCT user_id,
        |             (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk
        |           FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
        |SELECT c.cohort_wk AS cohort_wk,
        |       CAST(a.wk - c.cohort_wk AS BIGINT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin) { (s, dir) =>
      val act = Tables.events(s, dir)
        .select(col("user_id"),
          expr("datediff(CAST(ts AS DATE), DATE'1970-01-01') div 7").as("wk"))
        .distinct()
      val cohort = act.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      act.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "week_offset")
    },

    // E10: 7-day sliding distinct actives (WAU) — exact, per report day.
    // The classic engagement metric, done the scale-safe way: dedup to
    // (user, day) FIRST (one keyed shuffle of pairs, not events), then
    // each pair contributes to exactly 7 report days via a narrow
    // sequence-explode — bounded 7× fan-out of the deduplicated pairs,
    // never of the raw stream — and the final exact count-distinct
    // shuffles on report day. Epoch-day arithmetic (no calendar/tz
    // semantics to diverge on).
    QueryDef("e10_wau",
      """WITH a AS (SELECT DISTINCT user_id,
        |             CAST(ts AS DATE) - DATE '1970-01-01' AS d
        |           FROM events),
        |r AS (SELECT user_id, d + unnest(generate_series(0, 6)) AS rd FROM a)
        |SELECT CAST(rd AS BIGINT) AS report_day,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |FROM r GROUP BY 1 ORDER BY report_day""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("d"))
        .distinct()
        .select(col("user_id"),
          explode(sequence(col("d").cast("long"), col("d").cast("long") + 6)).as("report_day"))
        .groupBy("report_day")
        .agg(countDistinct("user_id").as("wau"))
        .orderBy("report_day")
    },

    // E11: e10's 100 TB form — the sketch × window composition. One
    // mergeable HLL sketch per active day (map-side combined — the raw
    // stream never shuffles users twice), then a trailing 7-day RANGE
    // window unions the daily sketches: at scale the rolling distinct
    // costs |days| sketch merges instead of e10's 7× explode + exact
    // count-distinct shuffle, and backfilling a new window width reuses
    // the same daily sketches untouched. The window runs unpartitioned
    // over the DAY dimension (|days| rows — the g2 node-ranking argument,
    // documented, never the event stream). Registered as the ORACLED
    // verdict (the a8 discipline): the HLL estimate per report day must
    // sit within 5% of the exact e10 count (DataSketches lgK=12 ≈ 1.6%
    // standard error — 3σ headroom), with the exact side recomputed
    // in-query and the oracle stating per-day constant TRUE over the
    // active-day roster. Report days here are ACTIVE days (days with ≥ 1
    // event) — e10 additionally emits trailing ghost days after the last
    // event; the verdict join restricts to the shared roster.
    QueryDef("e11_rolling_wau_sketch",
      """WITH a AS (SELECT DISTINCT CAST(ts AS DATE) - DATE '1970-01-01' AS d
        |           FROM events)
        |SELECT CAST(d AS BIGINT) AS report_day, TRUE AS within_tol
        |FROM a ORDER BY report_day""".stripMargin) { (s, dir) =>
      val a = Tables.events(s, dir)
        .select(col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("d"))
        .distinct()
      val daily = a.groupBy("d").agg(hll_sketch_agg(col("user_id")).as("sk"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("d").rangeBetween(-6, 0)
      val approx = daily.select(col("d"),
        hll_sketch_estimate(hll_union_agg(col("sk")).over(w)).as("apx"))
      val exact = a
        .select(col("user_id"),
          explode(sequence(col("d"), col("d") + 6)).as("rd"))
        .groupBy("rd").agg(countDistinct("user_id").as("wau"))
      approx.join(exact, col("d") === col("rd"))
        .select(col("d").as("report_day"),
          (abs(col("apx") - col("wau")) <= col("wau") * 0.05).as("within_tol"))
        .orderBy("report_day")
    },

    // E12: PEAK CONCURRENCY via sweep-line — how many 30-minute activity
    // intervals overlap at the busiest instant, per instrument
    // (event_type = ticker, the e7 convention): the
    // interval-overlap shape (concurrent viewers/sessions/connections)
    // that neither windows nor joins cover. Each event spawns a +1
    // boundary at ts and a −1 at ts+30m (half-open interval: the −1
    // sorts BEFORE a +1 at the same instant, so back-to-back intervals
    // don't double-count); a per-instrument running sum over the
    // boundary order peaks at the answer. The peak is invariant to tie
    // order WITHIN an equal (t, delta) group — prefix sums inside an
    // all-(+1) group only increase, so the group's max is its end, which
    // any permutation shares — making the output engine-deterministic
    // without a full tiebreak. Scale: boundaries = 2 rows per event
    // behind the instrument shuffle; one partitioned sort; no join.
    QueryDef("e12_peak_concurrency",
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, epoch_us(ts) + 1800000000 AS t, -1 AS delta FROM events),
        |c AS (SELECT event_type,
        |             sum(delta) OVER (PARTITION BY event_type
        |                              ORDER BY t, delta
        |                              ROWS UNBOUNDED PRECEDING) AS cur
        |      FROM b)
        |SELECT event_type, CAST(count(*) / 2 AS BIGINT) AS n_intervals,
        |       CAST(max(cur) AS BIGINT) AS peak
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"), col("ts_us"))
      val b = ev.select(col("event_type"), col("ts_us").as("t"), lit(1).as("delta"))
        .unionByName(ev.select(col("event_type"),
          (col("ts_us") + HalfHourUs).as("t"), lit(-1).as("delta")))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("t"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, 0)
      b.withColumn("cur", sum("delta").over(w))
        .groupBy("event_type")
        .agg((count(lit(1)) / 2).cast("long").as("n_intervals"),
          max("cur").cast("long").as("peak"))
        .orderBy("event_type")
    }
  )

  /** The e8 kernel exposed per user: (user_id, stage). Stage k requires
    * the k-th touch STRICTLY after — and within [[FunnelWindowUs]] of —
    * the (k−1)-th first touch. */
  def funnelStages(events: DataFrame): DataFrame = {
    val ev = events.select("user_id", "event_type", "ts_us").cache()
    val tv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("tv"))
    val tc = ev.filter(col("event_type") === "click")
      .join(tv, "user_id")
      .filter(col("ts_us") > col("tv") &&
        col("ts_us") <= col("tv") + FunnelWindowUs)
      .groupBy("user_id").agg(min("ts_us").as("tc"))
    val tp = ev.filter(col("event_type") === "purchase")
      .join(tc, "user_id")
      .filter(col("ts_us") > col("tc") &&
        col("ts_us") <= col("tc") + FunnelWindowUs)
      .groupBy("user_id").agg(min("ts_us").as("tp"))
    ev.select("user_id").distinct()
      .join(tv, Seq("user_id"), "left")
      .join(tc, Seq("user_id"), "left")
      .join(tp, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("tp").isNotNull, 3)
          .when(col("tc").isNotNull, 2)
          .when(col("tv").isNotNull, 1).otherwise(0).as("stage"))
  }

  /** Per-user funnel progress carried across micro-batches (−1 = unset). */
  final case class FunnelState(tv: Long, tc: Long, tp: Long)
  final case class UserStage(user_id: Long, stage: Int)

  /** Streaming twin of e8: a per-user funnel STATE MACHINE via
    * flatMapGroupsWithState — first-touch timestamps survive across
    * micro-batches, so a view in batch 1 converts on a click in batch 7.
    * Within a batch events advance the machine in event-time order; the
    * first qualifying touch in time order IS the minimum qualifying touch,
    * so one pass equals the batch kernel exactly (StreamingSpec pins
    * per-user agreement with [[funnelStages]]). Same in-order-across-
    * batches caveat as [[sessionizeStateful]]. Emits the user's current
    * stage every batch (OutputMode.Update); state is three BIGINTs. */
  def funnelStateful(events: DataFrame): Dataset[UserStage] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id").cast("long"), col("event_type"),
        col("ts_us").cast("long"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, UserStage](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          rows.toArray.sortBy(_._3).foreach { case (_, ty, ts) =>
            if (ty == "view" && st.tv < 0) st = st.copy(tv = ts)
            else if (ty == "click" && st.tc < 0 && st.tv >= 0 &&
              ts > st.tv && ts <= st.tv + FunnelWindowUs) st = st.copy(tc = ts)
            else if (ty == "purchase" && st.tp < 0 && st.tc >= 0 &&
              ts > st.tc && ts <= st.tc + FunnelWindowUs) st = st.copy(tp = ts)
          }
          state.update(st)
          val stage = if (st.tp >= 0) 3 else if (st.tc >= 0) 2
            else if (st.tv >= 0) 1 else 0
          Iterator(UserStage(uid, stage))
      }
  }

  /** Per-user session state carried across micro-batches. */
  final case class SessionAgg(lastTsUs: Long, sessions: Long, events: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful streaming sessionization via flatMapGroupsWithState — the
    * custom-state API (KeyValueGroupedDataset) the windowed built-ins can't
    * express: a per-user 30-minute-gap session counter whose state
    * (last-seen timestamp + running counts) survives across micro-batches.
    *
    * Emits the updated per-user totals on every batch (OutputMode.Update).
    * Within a batch, events are sorted by event time; across batches the
    * counter assumes in-order arrival per user (the production variant
    * would add a watermark + out-of-order buffer in the state).
    * StreamingSpec pins this against the batch `sessionize` on one pass. */
  def sessionizeStateful(events: DataFrame): Dataset[UserSessions] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id").cast("long"), col("ts_us").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAgg, UserSessions](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val sorted = rows.map(_._2).toArray.sorted
          val prev = state.getOption.getOrElse(SessionAgg(Long.MinValue, 0L, 0L))
          var last = prev.lastTsUs
          var sessions = prev.sessions
          var n = prev.events
          sorted.foreach { ts =>
            if (last == Long.MinValue || ts - last > HalfHourUs) sessions += 1
            last = ts
            n += 1
          }
          state.update(SessionAgg(last, sessions, n))
          Iterator(UserSessions(uid, sessions, n))
      }
  }

  /** Streaming source: an arriving-files DIRECTORY of events parquet (the
    * file stream source requires a directory, not a single file) with the
    * same projected schema as the batch loader (ts_us BIGINT +
    * ts TIMESTAMP), so batch and stream share every transformation above.
    * `maxFilesPerTrigger` caps files per micro-batch (1 gives one batch
    * per staged file, as the benchmark's `ingest` streams use it;
    * Trigger.AvailableNow respects source rate limits). */
  def eventsStream(s: SparkSession, filesDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file stream source needs a declared schema; mirror Tables.events's
    // schema-adaptivity (ns-as-long vs native-µs NTZ vintage) by peeking at
    // the files already staged (footer-only batch read). An empty/absent
    // directory FAILS FAST instead of guessing a vintage: a schema guessed
    // before any file exists would bind the stream's declared type, and
    // files of the other vintage staged later would then die mid-batch
    // with an opaque parquet conversion error — the exact failure mode the
    // peek exists to avoid. Files that ARE readable but lack a ts column
    // fail loudly here too.
    val tsType = scala.util.Try(s.read.parquet(filesDir).schema) match {
      case scala.util.Success(sch) =>
        require(sch.exists(_.name == "ts"),
          s"staged events files in $filesDir have no ts column (found ${sch.fieldNames.mkString(",")})")
        sch("ts").dataType
      case scala.util.Failure(e) =>
        throw new IllegalArgumentException(
          s"eventsStream($filesDir): no readable events files staged yet — " +
            "stage at least one file first so the stream's declared ts " +
            "vintage (ns-as-long vs native-µs) matches the data", e)
    }
    val raw = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val reader = maxFilesPerTrigger.foldLeft(s.readStream.schema(raw))(
      (r, n) => r.option("maxFilesPerTrigger", n.toString))
    Tables.normalizeEventsTs(reader.parquet(filesDir))
  }
}
