package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Rolling-window operators — the reference's signature family (W1-W3,
  * stockify.cu:142-193). The kernels themselves are buggy (shadowed loop
  * index at stockify.cu:146,157-158; missing shared-memory halo at :186-189),
  * so the implemented semantics are the CPU oracle's intent
  * (stockify.cu:513-521): for row i, aggregate rows i..i+w-1 in time order —
  * i.e. `ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING`.
  *
  * Divergence, by design (SURVEY §7.3): the reference oracle leaves the last
  * w-1 rows unset (loop guard `i < size-10`, stockify.cu:515); standard SQL
  * windows shrink at the tail. We implement the standard shrinking window and
  * pin that in the oracle SQL so both engines agree.
  *
  * Scale design: an unpartitioned `Window.orderBy` collapses to a SINGLE
  * partition sort — fatal at 100 TB. Every helper therefore takes a
  * `partitionBy`; the oracled w1-w7 queries partition by a real key
  * (supplier / returnflag — at scale: ticker, user, shard), which shuffles
  * once on the partition key and sorts per partition. The literal
  * reference semantics (one global unpartitioned series) ships only as
  * `w0_moving_avg_compat`, explicitly marked compat-mode.
  *
  * Determinism discipline (what makes the cross-engine diff exact):
  *   - the window ORDER BY is a verified TOTAL order per partition —
  *     (shipdate, orderkey, linenumber) alone is NOT unique in this data, so
  *     partkey + extendedprice are appended; an ambiguous in-window order
  *     would make the frame contents themselves engine-dependent;
  *   - row dumps are top-k (TakeOrderedAndProject, no global sort) ordered
  *     by EVERY emitted column, so tied prefixes cannot reorder across
  *     engines;
  *   - the moving average is quantized by exact INTEGER arithmetic:
  *     BIGINT window sum of round(price*100), times 100, integer-divided
  *     by the window count, /10000.0 — no round() call at all. Engines'
  *     window-aggregation strategies differ (Spark recomputes each frame,
  *     DuckDB uses a segment tree), and even round()-on-identical-doubles
  *     diverges when a shrink-tail window's true mean sits exactly on the
  *     half-grid (Spark rounds the shortest decimal representation, DuckDB
  *     multiplies then rounds — observed at sf0.001: 50802.62125 → .6213
  *     vs .6212). Integer division has one answer. Windowed
  *     min/max/count/lag/lead and BIGINT running sums are exact;
  *     dump ORDER BY pins NULLS FIRST where emitted columns are nullable
  *     (DuckDB defaults ASC NULLS LAST, Spark NULLS FIRST).
  */
object Windows {

  /** partitionBy-capable rolling frame: rows [lo, hi] around the current row
    * in `order` within `parts` (reference frame = rolling(0, w-1)). */
  def rolling(parts: Seq[Column], order: Seq[Column], lo: Long, hi: Long): WindowSpec = {
    val base = if (parts.isEmpty) Window.partitionBy() else Window.partitionBy(parts: _*)
    base.orderBy(order: _*).rowsBetween(lo, hi)
  }

  /** Dense 0-based global ordinal over an arbitrary total order WITHOUT a
    * single-partition sort: range-partition on the order key
    * ([[Par.rangeWithOffsets]], pinned to one execution of the range
    * shuffle), sort within each range partition, and number the rows as
    * the partition's base offset (exclusive prefix over ≤ #partitions
    * per-partition counts — the same bounded driver-side collect as
    * Curation.packSequences) plus the row's position in its partition.
    * The position is `monotonically_increasing_id() − (pid << 33)`: the
    * projection sits directly over the sort with no exchange between,
    * so its task's partition index IS the range partition `__pid`. No
    * `__pid` exchange, join or window. Output: the input's columns plus
    * `__ord`, which [[blockRolling]] blocks on. `order` must be a total
    * order over columns named in `df`. */
  def globalOrdinal(df: DataFrame, order: Seq[Column]): DataFrame = {
    val (p, off) = Par.rangeWithOffsets(df, order, lit(1L))
    p.sortWithinPartitions(order: _*)
      .withColumn("__ord", off + monotonically_increasing_id() -
        shiftleft(col("__pid").cast("long"), 33))
      .drop("__pid")
  }

  /** GLOBAL running maximum over one total-ordered series WITHOUT a
    * single-partition window — the unbounded-frame sibling of
    * [[globalOrdinal]]: range-partition on the order, per-partition
    * running max, then each partition folds in the EXCLUSIVE prefix-max
    * of the partitions before it (≤ #partitions values through the
    * driver, the rangeWithOffsets discipline). Emits the input columns
    * plus `__ord` (dense 0-based ordinal) and `__runmax` (prefix max of
    * `value` including the current row). Both per-partition folds come
    * from ONE pass over the pinned range shuffle, the same execution the
    * window reads, so the partition placement agrees by construction. */
  def globalRunningMax(df: DataFrame, order: Seq[Column], value: Column): DataFrame = {
    val (p, off, premax) = Par.rangeWithOffsetsAndMax(df, order, lit(1L), value)
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    // EXPLICIT __pid exchange, pinned at the range-partition count: left
    // to EnsureRequirements the exchange lands at spark.sql.shuffle
    // .partitions and AQE's parallelism-first coalescing then merges it
    // by COMPRESSED bytes — on highly compressible series (the stocks
    // table dictionary-encodes to ~0.6 B/row) that collapsed the window
    // sort to ~3 tasks, serializing a multi-million-row sort (guide §2.5:
    // cheap bytes, expensive rows — measured 1.6 s/3 tasks on stk5).
    // More buckets than distinct __pid values cannot help (hash on the
    // key can't split one pid), so the pin is the range count itself.
    p.repartition(Par.prefixParts(p), col("__pid"))
      .withColumn("__ord", row_number().over(w).cast("long") + off - 1L)
      .withColumn("__runmax", greatest(
        max(value).over(w.rowsBetween(Window.unboundedPreceding, 0)), premax))
      .drop("__pid")
  }

  /** EXACT distributed single-series forward rolling window via
    * BLOCK-CARRY: rows are bucketed into contiguous `blockSize`-row blocks
    * of the dense ordinal `ordCol`; each block also receives a CARRY copy
    * of the next block's first `frameEnd` rows, so every in-block frame
    * `ROWS BETWEEN CURRENT AND frameEnd FOLLOWING` is complete; carried
    * rows are dropped after the window evaluates. The unpartitioned
    * global sort (w0's single-partition collapse — the reference's literal
    * shape) becomes a hash-partitioned window over n/blockSize blocks at
    * full parallelism, bit-identical to the global window (oracled in
    * w8 against the same global-window SQL as w0; WindowSpec pins
    * block ≡ single-partition row-for-row).
    *
    * `ordCol` must be DENSE (0,1,2,…) — precisely what [[globalOrdinal]]
    * produces — otherwise "next frameEnd rows" and "next frameEnd
    * ordinals" diverge and boundary frames silently truncate.
    *
    * ONE pass over `df` (r18): the former base ∪ carry union evaluated
    * the input subtree once per branch — twice through the cached
    * ordinal, or twice through the whole prefix kernel when uncached
    * (guide §2.4; the prGraph symmetrize trick applied to the carry
    * copy). Each row explodes into its own block plus, for the first
    * `frameEnd` rows of a block, a carry copy into the previous block —
    * the identical (row, block, carry) multiset. The block exchange is
    * an explicit bytes-aware spread: left to EnsureRequirements it lands
    * at spark.sql.shuffle.partitions and AQE coalesces it by COMPRESSED
    * bytes — 19 tasks for stk3's 5.6M-row window pass (831 ms, the
    * query's single biggest stage; cheap bytes, expensive rows — guide
    * §2.5). Hash on `__blk` at any count satisfies the window's
    * ClusteredDistribution, so no second exchange appears. */
  def blockRolling(df: DataFrame, ordCol: String, frameEnd: Int,
      blockSize: Long)(build: (DataFrame, WindowSpec) => DataFrame): DataFrame = {
    require(blockSize > frameEnd, "blockSize must exceed the frame length")
    // integer floor-div (`div`), not double division: double `/` is only
    // exact while ordinals stay below 2^53 — `div` keeps block assignment
    // exact by construction at any scale
    val blk = expr(s"`$ordCol` div ${blockSize}L").cast("long")
    val own = struct(blk.as("__blk"), lit(false).as("__carry"))
    val carried = struct((blk - 1).as("__blk"), lit(true).as("__carry"))
    val u = df.select(col("*"), explode(
        when(pmod(col(ordCol), lit(blockSize)) < frameEnd && blk > 0,
          array(own, carried)).otherwise(array(own))).as("__bc"))
      .withColumn("__blk", col("__bc.__blk"))
      .withColumn("__carry", col("__bc.__carry"))
      .drop("__bc")
    val w = Window.partitionBy("__blk").orderBy(col(ordCol))
      .rowsBetween(0, frameEnd)
    build(Par.spread(u, col("__blk")), w)
      .filter(!col("__carry")).drop("__blk", "__carry")
  }

  private def li(s: SparkSession, dir: String) = Tables.lineitem(s, dir)

  /** lineitem pre-spread on l_suppkey for the per-supplier window family:
    * the explicit hash(l_suppkey, 2x cores) SATISFIES the windows'
    * required distribution, so EnsureRequirements adds no second
    * exchange — and unlike the ENSURE_REQUIREMENTS exchange it replaces,
    * AQE cannot coalesce it by (compressed, dictionary-friendly) bytes
    * onto 2-3 near-serial tasks (measured on w5's sibling stage: 0.6 s
    * on 3 tasks for a 600k-row window pass). */
  private def liSupp(s: SparkSession, dir: String) =
    Par.spread(li(s, dir), col("l_suppkey"))

  // Time axis within each supplier's series: ship date, tie-broken all the
  // way to a total order (verified unique at sf0.001/0.01/0.1).
  private val series = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
    col("l_partkey"), col("l_extendedprice"))
  private val bySupp = Seq(col("l_suppkey"))
  private val idCols = Seq(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  private val DumpK = 2000

  private val overSql = "PARTITION BY l_suppkey ORDER BY " +
    "l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice"

  /** Top-k dump ordered by every emitted column (total order ⇒ the k rows
    * and their order agree across engines even when id columns tie). */
  private def dump(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).limit(DumpK)

  private def dumpSql(cols: String): String = s"ORDER BY $cols LIMIT $DumpK"

  val defs: Seq[QueryDef] = Seq(
    // W1 (stockify.cu:142-149; oracle :513-521): 10-row forward moving avg,
    // partitioned per supplier (the scale-safe form of the reference's
    // single global series).
    QueryDef("w1_moving_avg",
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER ($overSql
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) * 100
        |         // (count(*) OVER ($overSql
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING))) / 10000.0 AS DOUBLE) AS mov_avg
        |FROM lineitem
        |${dumpSql("l_suppkey, l_orderkey, l_linenumber, mov_avg")}""".stripMargin) { (s, dir) =>
      val w = rolling(bySupp, series, 0, 9)
      dump(liSupp(s, dir)
        .withColumn("ws", sum(round(col("l_extendedprice") * 100).cast("long")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .select(idCols :+
          (expr("ws * 100 div wn") / 10000.0).cast("double").as("mov_avg"): _*))
    },

    // W2 (stockify.cu:153-162): 10-row rolling MIN — exact, unrounded.
    QueryDef("w2_rolling_min",
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        |       min(l_extendedprice) OVER ($overSql
        |         ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS roll_min
        |FROM lineitem
        |${dumpSql("l_suppkey, l_orderkey, l_linenumber, roll_min")}""".stripMargin) { (s, dir) =>
      dump(liSupp(s, dir)
        .select(idCols :+
          min("l_extendedprice").over(rolling(bySupp, series, 0, 9)).as("roll_min"): _*))
    },

    // W3 (stockify.cu:170-193, the shared-memory-tiled kernel): 10-row
    // rolling MAX — exact, unrounded. Spark's WindowExec handles the frame
    // boundary the kernel's missing halo (:186-189) got wrong.
    QueryDef("w3_rolling_max",
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        |       max(l_extendedprice) OVER ($overSql
        |         ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS roll_max
        |FROM lineitem
        |${dumpSql("l_suppkey, l_orderkey, l_linenumber, roll_max")}""".stripMargin) { (s, dir) =>
      dump(liSupp(s, dir)
        .select(idCols :+
          max("l_extendedprice").over(rolling(bySupp, series, 0, 9)).as("roll_max"): _*))
    },

    // W0: the reference's literal shape — ONE unpartitioned global series
    // (stockify.cu:513-521). COMPAT MODE ONLY: this is a single-partition
    // sort; at 100 TB use w1's partitioned form.
    QueryDef("w0_moving_avg_compat",
      s"""SELECT l_orderkey, l_linenumber,
        |       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER (
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) * 100
        |         // (count(*) OVER (
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING))) / 10000.0 AS DOUBLE) AS mov_avg
        |FROM lineitem
        |${dumpSql("l_orderkey, l_linenumber, mov_avg")}""".stripMargin) { (s, dir) =>
      val w = rolling(Nil, series, 0, 9)
      dump(li(s, dir)
        .withColumn("ws", sum(round(col("l_extendedprice") * 100).cast("long")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .select(col("l_orderkey"), col("l_linenumber"),
          (expr("ws * 100 div wn") / 10000.0).cast("double").as("mov_avg")))
    },

    // W8: w0's EXACT semantics (one global unpartitioned series) computed
    // scale-safe: dense ordinal via the distributed prefix trick, then the
    // block-carry window — same oracle SQL shape as w0 (the global
    // window), so DuckDB certifies block-carry ≡ global series while the
    // Spark plan never collapses to one partition. This retires the
    // "compat mode only" caveat: the reference's literal single-series
    // semantics ARE reachable at corpus scale.
    QueryDef("w8_block_rolling",
      s"""SELECT l_orderkey, l_linenumber,
        |       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER (
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) * 100
        |         // (count(*) OVER (
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |           ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING))) / 10000.0 AS DOUBLE) AS mov_avg
        |FROM lineitem
        |${dumpSql("l_orderkey, l_linenumber, mov_avg")}""".stripMargin) { (s, dir) =>
      // UNCACHED (r18): blockRolling is one-pass now, so the ordinal has
      // a single consumer and streams straight into the block window —
      // the former cache existed only for the base+carry double read.
      // Slimmed to the consumed columns (stk3 discipline, guide §2.3).
      // slim BEFORE the ordinal call, not just before the select: the
      // prefix kernel runs its range shuffle when called, so a select
      // above it would still range-ship all 16 columns
      val ord = globalOrdinal(li(s, dir).select(series: _*), series)
        .select("__ord", "l_orderkey", "l_linenumber", "l_extendedprice")
      val res = blockRolling(ord, "__ord", frameEnd = 9, blockSize = 4096) { (u, w) =>
        u.withColumn("ws", sum(round(col("l_extendedprice") * 100).cast("long")).over(w))
          .withColumn("wn", count(lit(1)).over(w))
      }
      dump(res.select(col("l_orderkey"), col("l_linenumber"),
        (expr("ws * 100 div wn") / 10000.0).cast("double").as("mov_avg")))
    },

    // W9: order-insensitive FULL-RESULT checksums for the window family
    // (the f9 pattern): w1/w2/w3's partitioned windows and w8's
    // block-carry global window are evaluated over EVERY row, quantized
    // to exact BIGINTs (the moving average keeps its PRE-division integer
    // form `ws*100 div wn` — no doubles anywhere), and reduced to
    // (count, value sum, row-weighted mix). The mix term weights each
    // value by a per-row key hash, so a permutation of correct values
    // across rows — invisible to plain sums — still flips the checksum.
    // This closes the "tail beyond the 2000-row dumps is unverified"
    // hole with one narrow aggregate per window, no sort, no dump.
    QueryDef("w9_window_checksums", {
      val frame = "ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING"
      val globalOver = "ORDER BY l_shipdate, l_orderkey, l_linenumber, " +
        s"l_partkey, l_extendedprice $frame"
      def avgQv(over: String) =
        s"""(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER ($over) * 100)
           |          // (count(*) OVER ($over))""".stripMargin
      def ckSql(tag: String, qv: String): String =
        s"""SELECT '$tag' AS win, count(*) AS n,
           |       CAST(sum(qv) AS BIGINT) AS ck_sum,
           |       CAST(sum(((l_orderkey * 31 + l_linenumber) % 10007) * qv) AS BIGINT) AS ck_mix
           |FROM (SELECT l_orderkey, l_linenumber, $qv AS qv FROM lineitem)""".stripMargin
      Seq(
        ckSql("w1_moving_avg", avgQv(s"$overSql $frame")),
        ckSql("w2_rolling_min",
          s"CAST(floor(min(l_extendedprice) OVER ($overSql $frame) * 100) AS BIGINT)"),
        ckSql("w3_rolling_max",
          s"CAST(floor(max(l_extendedprice) OVER ($overSql $frame) * 100) AS BIGINT)"),
        // w8's block-carry result must equal the plain global window
        ckSql("w8_block_rolling", avgQv(globalOver))
      ).mkString("", "\nUNION ALL\n", "\nORDER BY win")
    }) { (s, dir) =>
      val t = liSupp(s, dir) // pinned window exchange (see liSupp)
      val wt = expr("(l_orderkey * 31 + l_linenumber) % 10007").cast("long")
      def ckStruct(tag: String, qv: Column): Column =
        struct(lit(tag).as("win"), count(lit(1)).as("n"),
          sum(qv).as("ck_sum"), sum(col("__wt") * qv).as("ck_mix"))
      // ONE evaluation of the shared supplier window computes all three
      // w1/w2/w3 measures (single shuffle + per-partition sort, four
      // window columns), and ONE aggregate emits their three checksum
      // structs — not three window passes + three scans
      val w = rolling(bySupp, series, 0, 9)
      val fused = t
        .withColumn("ws", sum(round(col("l_extendedprice") * 100).cast("long")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .withColumn("mn", min("l_extendedprice").over(w))
        .withColumn("mx", max("l_extendedprice").over(w))
        .withColumn("__wt", wt)
        .agg(
          ckStruct("w1_moving_avg", expr("ws * 100 div wn")).as("s0"),
          ckStruct("w2_rolling_min", floor(col("mn") * 100).cast("long")).as("s1"),
          ckStruct("w3_rolling_max", floor(col("mx") * 100).cast("long")).as("s2"))
        .select(explode(array(col("s0"), col("s1"), col("s2"))).as("e"))
        .select("e.*")
      // UNCACHED: one-pass blockRolling leaves the ordinal a single
      // consumer (the cache served the old base+carry double read);
      // slimmed to the consumed columns (stk3 discipline, guide §2.3)
      // slim before the ordinal call (its range shuffle runs full-width)
      val w8 = blockRolling(globalOrdinal(li(s, dir).select(series: _*), series)
          .select("__ord", "l_orderkey", "l_linenumber", "l_extendedprice"),
        "__ord",
        frameEnd = 9, blockSize = 4096) { (u, win) =>
        u.withColumn("ws", sum(round(col("l_extendedprice") * 100).cast("long")).over(win))
          .withColumn("wn", count(lit(1)).over(win))
      }
      val w8ck = w8.withColumn("__wt", wt)
        .agg(ckStruct("w8_block_rolling", expr("ws * 100 div wn")).as("s"))
        .select("s.*")
      fused.union(w8ck).orderBy("win")
    },

    // W4: lag/lead + first-difference — same machinery, no accumulation, so
    // values are exact column copies / one IEEE subtraction.
    QueryDef("w4_lag_lead",
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        |       lag(l_extendedprice, 1) OVER ($overSql) AS prev_price,
        |       lead(l_extendedprice, 1) OVER ($overSql) AS next_price,
        |       l_extendedprice - lag(l_extendedprice, 1) OVER ($overSql) AS delta
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber,
        |         prev_price ASC NULLS FIRST, next_price ASC NULLS FIRST,
        |         delta ASC NULLS FIRST LIMIT $DumpK""".stripMargin) { (s, dir) =>
      // lag/lead ignore the frame; only the partition+order spec matters.
      val wo = Window.partitionBy(bySupp: _*).orderBy(series: _*)
      dump(liSupp(s, dir)
        .select(idCols ++ Seq(
          lag("l_extendedprice", 1).over(wo).as("prev_price"),
          lead("l_extendedprice", 1).over(wo).as("next_price"),
          (col("l_extendedprice") - lag("l_extendedprice", 1).over(wo)).as("delta")): _*))
    },

    // W5: ranking family. rank/dense_rank/percent_rank depend only on the
    // order VALUES (deterministic under ties); row_number/ntile need a total
    // order, so they rank over the fully tie-broken spec.
    QueryDef("w5_rank_family",
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
        |       CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS INT) AS rnk,
        |       CAST(dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS INT) AS drnk,
        |       CAST(round(percent_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC), 6) AS DOUBLE) AS prnk,
        |       CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC, l_orderkey, l_linenumber, l_partkey, l_extendedprice) AS INT) AS rn,
        |       CAST(ntile(4) OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC, l_orderkey, l_linenumber, l_partkey, l_extendedprice) AS INT) AS quartile
        |FROM lineitem
        |ORDER BY l_returnflag, rn LIMIT $DumpK""".stripMargin) { (s, dir) =>
      val byVal = Window.partitionBy("l_returnflag").orderBy(col("l_quantity").desc)
      val total = Window.partitionBy("l_returnflag")
        .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice"))
      li(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          rank().over(byVal).as("rnk"),
          dense_rank().over(byVal).as("drnk"),
          round(percent_rank().over(byVal), 6).cast("double").as("prnk"),
          row_number().over(total).as("rn"),
          ntile(4).over(total).as("quartile"))
        .orderBy(col("l_returnflag"), col("rn")).limit(DumpK)
    },

    // W6: value-RANGE frame (quantity within 5 below current) — the frame is
    // a value set, so count/min over it are tie-order-independent and exact.
    QueryDef("w6_range_frame",
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        |       count(*) OVER (PARTITION BY l_suppkey ORDER BY l_quantity
        |         RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_in_range,
        |       min(l_extendedprice) OVER (PARTITION BY l_suppkey ORDER BY l_quantity
        |         RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS min_in_range
        |FROM lineitem
        |${dumpSql("l_suppkey, l_orderkey, l_linenumber, n_in_range, min_in_range")}""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("l_suppkey").orderBy(col("l_quantity")).rangeBetween(-5, 0)
      dump(liSupp(s, dir)
        .select(idCols ++ Seq(
          count(lit(1)).over(w).as("n_in_range"),
          min("l_extendedprice").over(w).as("min_in_range")): _*))
    },

    // W7: cumulative (running) aggregates — BIGINT running sum of the
    // integral quantity column: exact at any depth, no FP accumulation
    // hazard, which is how a running total should be verified cross-engine.
    QueryDef("w7_cumulative",
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) OVER ($overSql
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_qty,
        |       count(*) OVER ($overSql
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        |FROM lineitem
        |${dumpSql("l_suppkey, l_orderkey, l_linenumber, cum_qty, cum_n")}""".stripMargin) { (s, dir) =>
      val w = rolling(bySupp, series, Window.unboundedPreceding, Window.currentRow)
      dump(liSupp(s, dir)
        .select(idCols ++ Seq(
          sum(col("l_quantity").cast("long")).over(w).as("cum_qty"),
          count(lit(1)).over(w).as("cum_n")): _*))
    },

    // W10: linearly-weighted trailing moving average (WMA) — recency
    // weighting the plain frames (w1-w3) can't express: lag k back gets
    // weight 10−k. Built as 10 lag() columns folded into ONE exact
    // integer numerator/denominator pair (head-of-partition rows simply
    // drop the missing lags — shrinking-window semantics, like w1's
    // tail); the reported average uses w1's integer-division discipline
    // (num·100 div den, then one exact power-of-ten divide), so no
    // float accumulation or rounding tie can diverge across engines.
    // One window pass, all codegen'd — no self-joins, no collect_list.
    QueryDef("w10_weighted_ma", {
      val lagSql = (0 until 10).map { k =>
        if (k == 0) "CAST(round(l_extendedprice * 100) AS BIGINT) AS c0"
        else s"lag(CAST(round(l_extendedprice * 100) AS BIGINT), $k) OVER ($overSql) AS c$k"
      }.mkString(",\n        |         ")
      val numSql = (0 until 10).map(k => s"${10 - k} * coalesce(c$k, 0)").mkString(" + ")
      val denSql = (0 until 10).map(k =>
        s"(CASE WHEN c$k IS NOT NULL THEN ${10 - k} ELSE 0 END)").mkString(" + ")
      s"""WITH b AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |         $lagSql
        |       FROM lineitem),
        |x AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |        CAST($numSql AS BIGINT) AS wma_num,
        |        CAST($denSql AS BIGINT) AS wma_den
        |      FROM b)
        |SELECT l_suppkey, l_orderkey, l_linenumber, wma_num, wma_den,
        |       CAST((wma_num * 100 // wma_den) / 10000.0 AS DOUBLE) AS wma
        |FROM x
        |${dumpSql("l_suppkey, l_orderkey, l_linenumber, wma_num, wma_den, wma")}""".stripMargin
    }) { (s, dir) =>
      val wSpec = Window.partitionBy(bySupp: _*).orderBy(series: _*)
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val lagCols = (0 until 10).map { k =>
        (10 - k, if (k == 0) cents else lag(cents, k).over(wSpec))
      }
      val num = lagCols.map { case (wt, c) => coalesce(c, lit(0L)) * wt }.reduce(_ + _)
      val den = lagCols.map { case (wt, c) =>
        when(c.isNotNull, wt.toLong).otherwise(0L)
      }.reduce(_ + _)
      dump(liSupp(s, dir)
        .select(idCols ++ Seq(num.as("wma_num"), den.as("wma_den")): _*)
        .withColumn("wma",
          (expr("wma_num * 100 div wma_den") / 10000.0).cast("double")))
    },

    // W11: Bollinger bands — THE stock-analytics window indicator
    // (trailing mean ± 2σ), built on exact integers: Σx and Σx² in cents
    // over the 10-row trailing frame make the variance numerator
    // D = n·Σx² − (Σx)² an exact BIGINT (no Welford, no float
    // accumulation); the only floats are one sqrt over D and a fixed
    // division tree identical in both engines, and the mid-band reuses
    // w1's integer-division discipline. Same single window pass as
    // w1-w3 — the indicator costs one extra sum.
    QueryDef("w11_bollinger", {
      val c = "CAST(round(l_extendedprice * 100) AS BIGINT)"
      val band = (sign: String) =>
        s"CAST(round((s * 100 // n) / 10000.0 $sign " +
          "2 * sqrt(CAST(n * s2 - s * s AS DOUBLE)) / n / 100.0, 4) AS DOUBLE)"
      s"""WITH b AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |         count(*) OVER w AS n,
        |         sum($c) OVER w AS s,
        |         sum($c * $c) OVER w AS s2
        |       FROM lineitem
        |       WINDOW w AS ($overSql ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sm,
        |       CAST(n * s2 - s * s AS BIGINT) AS var_num,
        |       ${band("+")} AS upper_band,
        |       ${band("-")} AS lower_band
        |FROM b
        |${dumpSql("l_suppkey, l_orderkey, l_linenumber, n, sm, var_num, upper_band, lower_band")}""".stripMargin
    }) { (s, dir) =>
      val w = rolling(bySupp, series, -9, 0)
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val base = liSupp(s, dir)
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sm", sum(cents).over(w))
        .withColumn("s2", sum(cents * cents).over(w))
      val mid = expr("sm * 100 div n") / 10000.0
      val spread = lit(2) * sqrt((col("n") * col("s2") - col("sm") * col("sm"))
        .cast("double")) / col("n") / lit(100.0)
      dump(base.select(idCols ++ Seq(col("n"), col("sm"),
        (col("n") * col("s2") - col("sm") * col("sm")).as("var_num"),
        round(mid + spread, 4).cast("double").as("upper_band"),
        round(mid - spread, 4).cast("double").as("lower_band")): _*))
    },

    // O1: DISTRIBUTED TOTAL ORDER under the hash gate — the engine's
    // global-sort capability proven over ALL rows without ever forming a
    // single partition: the dense ordinal comes from `globalOrdinal`
    // (range partition + per-partition position + prefix offsets),
    // and the position-weighted checksum Σ ((ord mod 251)+1)·cents is
    // nonzero-sensitive to ANY transposition, so a hash match against
    // DuckDB's genuine global-sort row_number certifies the full
    // permutation, not just membership (the w9/f9 checksum discipline
    // applied to ordering itself).
    QueryDef("o1_total_order", {
      val ordSql = "row_number() OVER (ORDER BY " +
        "l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice) - 1"
      s"""WITH o AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
        |             $ordSql AS ord
        |           FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(((ord % 251) + 1) * c) AS BIGINT) AS ck
        |FROM o""".stripMargin
    }) { (s, dir) =>
      // slimmed to the order key + checksum column before the ordinal
      // machinery (stk3 discipline): the range exchange, run when the
      // ordinal is built, otherwise ships all 16 lineitem columns for a
      // query that consumes two
      val base = li(s, dir)
        .withColumn("c", round(col("l_extendedprice") * 100).cast("long"))
        .select((series :+ col("c")): _*)
      globalOrdinal(base, series)
        .agg(count(lit(1)).as("n"),
          sum(((col("__ord") % 251) + 1) * col("c")).as("ck"))
    },

    // W12: exponential moving average, EXACTLY. Float EMAs can't pass a
    // hash gate (the recurrence compounds rounding differently per
    // engine), so the smoothing factor is dyadic: α = 1/2 truncated at 32
    // terms makes every weight a power of two — ema_scaled =
    // Σ_{j=0..31} cents(t−j)·2^(31−j) is an exact BIGINT (≤ 2^32·max
    // cents ≈ 4e16), the fixed-point value of 2^32·EMA. One window pass
    // (32 lags share the frame sort); null propagation keeps only
    // full-history rows. Verified over ALL rows, not a top-k dump: per
    // supplier the count, the hi/lo split of Σema (together the exact
    // sum — Σ(ema div 2^32) and Σ(ema mod 2^32)), and a position-weighted
    // mix that is transposition-sensitive, all commuting BIGINT sums.
    QueryDef("w12_ema", {
      val c = "CAST(round(l_extendedprice * 100) AS BIGINT)"
      val lagSql = (0 until 32).map { j =>
        if (j == 0) s"$c AS c0"
        else s"lag($c, $j) OVER ($overSql) AS c$j"
      }.mkString(",\n        |         ")
      val emaSql = (0 until 32).map(j => s"c$j * ${1L << (31 - j)}").mkString(" + ")
      s"""WITH b AS (SELECT l_suppkey,
        |         $lagSql,
        |         row_number() OVER ($overSql) AS rn
        |       FROM lineitem),
        |x AS (SELECT l_suppkey, rn, CAST($emaSql AS BIGINT) AS ema FROM b)
        |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(ema // 4294967296) AS BIGINT) AS s_hi,
        |       CAST(sum(ema % 4294967296) AS BIGINT) AS s_lo,
        |       CAST(sum(((rn % 251) + 1) * (ema % 1000003)) AS BIGINT) AS mix
        |FROM x WHERE ema IS NOT NULL
        |GROUP BY 1 ORDER BY l_suppkey""".stripMargin
    }) { (s, dir) =>
      val wSpec = Window.partitionBy(bySupp: _*).orderBy(series: _*)
      val cents = round(col("l_extendedprice") * 100).cast("long")
      // LANE-PACKED lags (§4 expression work): cents fit 24 bits, so
      // pk(t) = c(t)·2^32 + c(t-1) carries two history positions per
      // column and 15 even-offset lags of pk cover all 32 positions with
      // HALF the window frames (each distinct lag offset is its own
      // frame in WindowExec; 33 frames → 18 measured as the stage's
      // bottleneck). Exact: lanes never carry (c < 2^32), weights are
      // the same powers of two, and pk's lag(c,1) makes ema null exactly
      // iff rn < 32 — the identical full-history window as the 32-lag
      // form (the declared SQL is unchanged and the oracle re-certifies).
      val pk = shiftleft(cents, 32) + lag(cents, 1).over(wSpec)
      val ema = (0 until 16).map { j =>
        val term = if (j == 0) col("pk") else lag(col("pk"), 2 * j).over(wSpec)
        shiftright(term, 32) * lit(1L << (31 - 2 * j)) +
          term.bitwiseAND(lit(0xFFFFFFFFL)) * lit(1L << (30 - 2 * j))
      }.reduce(_ + _)   // null-propagating: non-null ⇔ full 32-row history
      liSupp(s, dir)
        .withColumn("pk", pk)
        .withColumn("rn", row_number().over(wSpec))
        .withColumn("ema", ema)
        .filter(col("ema").isNotNull)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(expr("ema div 4294967296")).as("s_hi"),
          sum(col("ema") % lit(4294967296L)).as("s_lo"),
          sum(((col("rn") % 251) + 1) * (col("ema") % 1000003L)).as("mix"))
        // fence: the agg output rides the window's l_suppkey exchange, so
        // without it the final sort's range sampler re-runs the whole
        // 32-lag window pass (measured: 2x ~1.3 s stages)
        .transform(Par.sortFence(_, col("l_suppkey")))
        .orderBy("l_suppkey")
    }
  )
}
