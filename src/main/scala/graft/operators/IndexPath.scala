package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ordered-access-path operators (reference I1-I5, stockify.cu:638-739).
  *
  * The reference builds two host-side indexes over 10 M synthetic rows — a
  * sorted vector probed with `lower_bound` (stockify.cu:658-684) and a
  * red-black-tree `std::map` (stockify.cu:709-727) — and races them against
  * a linear scan (stockify.cu:687-696, 730-739).
  *
  * The Spark-native equivalent of "build an ordered index" is an ordered
  * LAYOUT: globally sort-write Parquet on the probe column. Range
  * partitioning gives each file a disjoint key range and each row group
  * tight min/max statistics, so a pushed-down range predicate skips whole
  * row groups/files — the same O(log n + k) access pattern as
  * `lower_bound`, except it also distributes: at 100 TB the "index" is
  * simply clustering, needs no driver-side structure, and the probe is an
  * ordinary scan whose cost tracks the selected range, not the table.
  *
  * The map index (stockify.cu:711-714) silently DEDUPS on key — last
  * inserted row wins. That quirk is modeled faithfully (i3/i4) as an
  * explicit `max_by` group-by on a deterministic load-order rank, per
  * SURVEY §7.3's "don't accidentally fix the diff away" note.
  */
object IndexPath {

  /** Probe threshold: ~25% tail of the l_partkey domain, the analogue of
    * the reference's volume >= 1.8e6 cutoff (stockify.cu:674). */
  private val ProbeKey = 1500

  /** Sorted-layout cache dir, one per scale factor (build artifacts live
    * under target/, never in the read-only testdata). */
  def layoutDir(dir: String): String =
    s"${graft.Paths.work}/graft-idx/${new java.io.File(dir).getName}"

  /** I1 (stockify.cu:658-669): build the ordered layout — global sort on
    * the probe column, written with small row groups so min/max pruning has
    * fine granularity. Idempotent per sf dir. */
  def buildSortedLayout(s: SparkSession, dir: String): String = synchronized {
    val out = layoutDir(dir)
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      Tables.lineitem(s, dir)
        .sort("l_partkey")
        // coalesce AFTER the range sort: adjacent sorted ranges concatenate,
        // so files stay key-clustered (pruning keeps working) without the
        // per-file task overhead of one file per shuffle partition
        .coalesce(4)
        .write.mode("overwrite")
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(out)
    }
    out
  }

  /** Z-order (Morton) value: interleave the low `bits` of two bucketized
    * non-negative ints. Sorting the layout by this key clusters BOTH
    * dimensions at once, so row-group min/max stats prune range filters on
    * EITHER column — what a single-column sort can only do for its own
    * column. The multi-dimensional generalization of I1's sorted layout
    * (IndexSpec proves the two-sided skipping on synthetic OHLCV data). */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Deterministic load-order rank for last-write-wins dedup: the map key
    * quirk needs "last row inserted" — (orderkey, linenumber) is the load
    * order but is not unique in this data, so quantity is folded in; rows
    * that tie on all three are interchangeable for every emitted column. */
  private val rkSql =
    "(l_orderkey * 100 + l_linenumber) * 100 + CAST(l_quantity AS BIGINT)"
  private def rk = (col("l_orderkey") * 100 + col("l_linenumber")) * 100 +
    col("l_quantity").cast("long")

  val defs: Seq[QueryDef] = Seq(
    // I1: sorted-layout build. The build is the operator; the emitted
    // summary proves the layout holds exactly the source rows.
    QueryDef("i1_sorted_layout_build",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val out = buildSortedLayout(s, dir)
      s.read.parquet(out).agg(
        count(lit(1)).as("n"),
        min("l_partkey").as("min_pk"),
        max("l_partkey").as("max_pk"))
    },

    // I2 (stockify.cu:672-684): range probe over the SORTED layout. The
    // pushed-down predicate prunes row groups via min/max stats (the
    // lower_bound analogue); output is an order-insensitive checksum so
    // the result is layout-independent and comparable to the oracle over
    // the original table.
    QueryDef("i2_index_range_scan",
      s"""SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(l_orderkey) AS BIGINT) AS ck_okey,
        |       CAST(sum(l_partkey) AS BIGINT) AS ck_pk
        |FROM lineitem WHERE l_partkey >= $ProbeKey""".stripMargin) { (s, dir) =>
      val out = buildSortedLayout(s, dir)
      s.read.parquet(out)
        .filter(col("l_partkey") >= ProbeKey)
        .agg(count(lit(1)).as("n"), sum("l_orderkey").as("ck_okey"),
          sum("l_partkey").as("ck_pk"))
    },

    // I5 (stockify.cu:687-696, 730-739): the linear-scan control — same
    // probe over the UNSORTED original layout. Same oracle by construction;
    // Bench shows the sorted/unsorted timing pair (the exp-3 comparison).
    QueryDef("i5_linear_scan_baseline",
      s"""SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(l_orderkey) AS BIGINT) AS ck_okey,
        |       CAST(sum(l_partkey) AS BIGINT) AS ck_pk
        |FROM lineitem WHERE l_partkey >= $ProbeKey""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_partkey") >= ProbeKey)
        .agg(count(lit(1)).as("n"), sum("l_orderkey").as("ck_okey"),
          sum("l_partkey").as("ck_pk"))
    },

    // I6: STATS-SERVED aggregation — count/min/max answered from parquet
    // footer metadata via V2 aggregate pushdown, no row scan at all (the
    // plan's scan node carries PushedAggregation and emits one row per
    // row group, not per row — IndexSpec pins both). This is the far end
    // of the access-path spectrum the reference's index experiments
    // explore: at 100 TB, "how many rows / what's the key range" must
    // cost footer reads, not a table scan. Runs in an ISOLATED
    // newSession(): aggregate pushdown needs the V2 parquet source,
    // and flipping useV1SourceList globally would silently re-plan every
    // other query in the session.
    QueryDef("i6_stats_pushdown_agg",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
        |       min(l_shipdate) AS min_sd, max(l_shipdate) AS max_sd
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushDown", "true")
      Tables.lineitem(s2, dir).agg(
        count(lit(1)).as("n"),
        min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
        min("l_shipdate").as("min_sd"), max("l_shipdate").as("max_sd"))
    },

    // I3 (stockify.cu:709-717): map-index build with its key-dedup quirk —
    // one row per key, LAST write wins in load order.
    QueryDef("i3_map_index_dedup",
      s"""SELECT l_partkey,
        |       max_by(l_quantity, $rkSql) AS kept_qty,
        |       max($rkSql) AS last_rk
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY l_partkey LIMIT 2000""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(max_by(col("l_quantity"), rk).as("kept_qty"), max(rk).as("last_rk"))
        .orderBy("l_partkey").limit(2000)
    },

    // I4 (stockify.cu:720-727): range scan over the deduped map —
    // map.lower_bound(k) then iterate to end, as a checksum over the
    // surviving (one-per-key) rows.
    QueryDef("i4_map_range_scan",
      s"""SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(CAST(kept_qty AS BIGINT)) AS BIGINT) AS ck_qty, CAST(sum(last_rk) AS BIGINT) AS ck_rk
        |FROM (SELECT l_partkey, max_by(l_quantity, $rkSql) AS kept_qty,
        |             max($rkSql) AS last_rk
        |      FROM lineitem GROUP BY l_partkey)
        |WHERE l_partkey >= $ProbeKey""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(max_by(col("l_quantity"), rk).as("kept_qty"), max(rk).as("last_rk"))
        .filter(col("l_partkey") >= ProbeKey)
        .agg(count(lit(1)).as("n_keys"),
          sum(col("kept_qty").cast("long")).as("ck_qty"),
          sum("last_rk").as("ck_rk"))
    },

    // I7: DYNAMIC partition pruning — the 100 TB scan-avoidance lever the
    // sorted layout (row-group stats) doesn't cover: whole DIRECTORIES
    // skipped because a dimension filter's surviving keys arrive as a
    // runtime filter on the partition column. The build step hive-
    // partitions orders by order year and writes a years dim as a
    // separate parquet (read back, so the optimizer cannot constant-fold
    // the dim into a static IN-list — the pruning must happen at RUN
    // time, exactly as with a real date dimension). IndexSpec pins
    // `dynamicpruningexpression` in the scan's PartitionFilters. The
    // oracle computes the same aggregate from the unpartitioned table
    // with the dim predicate inlined.
    QueryDef("i7_partition_pruning",
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE year(CAST(o_orderdate AS DATE)) % 3 = 0
        |GROUP BY 1 ORDER BY o_year""".stripMargin) { (s, dir) =>
      val out = buildPartitionedOrders(s, dir)
      val fact = s.read.parquet(s"$out/orders")
      // equality on a dim attribute — the predicate shape Spark's
      // PartitionPruning rule recognizes as selective (a bare boolean
      // column is not, and DPP silently declines)
      val dim = s.read.parquet(s"$out/years").filter(col("status") === "keep")
      fact.join(broadcast(dim), col("o_year") === col("d_year"))
        .groupBy("o_year")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_year")
        .select(col("o_year").cast("int").as("o_year"), col("n"), col("cents"))
    }
  )

  /** I7 build: hive-partition orders by order year (each year = one
    * directory the runtime filter can skip wholesale) + a years dim with
    * a keep flag, written and read back as parquet so the dim is opaque
    * to constant folding. Idempotent per sf dir. */
  def buildPartitionedOrders(s: SparkSession, dir: String): String = synchronized {
    val out = s"${graft.Paths.work}/graft-part/${new java.io.File(dir).getName}"
    if (!new java.io.File(s"$out/years/_SUCCESS").exists()) {
      val o = Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate").cast("date")))
      o.write.mode("overwrite").partitionBy("o_year").parquet(s"$out/orders")
      o.select(col("o_year").as("d_year")).distinct()
        .withColumn("status",
          when(pmod(col("d_year"), lit(3)) === 0, "keep").otherwise("drop"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$out/years")
    }
    out
  }
}
