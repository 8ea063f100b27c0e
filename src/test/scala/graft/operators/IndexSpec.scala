package graft.operators

import graft.{Paths, SparkSpec}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** I-family: the sorted layout must actually SKIP data (row-group min/max
  * pruning), not just pass the same filter. Uses the reference's synthetic
  * generator shape (S4, stockify.cu:647-657) as the fixture — volume
  * uniform in [1.2e6, 2.9e6] — probing the reference cutoff region. */
class IndexSpec extends SparkSpec {

  private val base = s"${Paths.work}/graft-idx-test"

  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
  }

  test("sorted layout prunes row groups; linear scan reads everything") {
    val rows = 200000L
    val synth = Tables.syntheticStocks(spark, rows)
    synth.write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString).parquet(s"$base/unsorted")
    synth.sort("volume").write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString).parquet(s"$base/sorted")

    val cutoff = 2.6e6 // ~18% tail of [1.2e6, 2.9e6]
    val sorted = spark.read.parquet(s"$base/sorted").filter(col("volume") >= cutoff)
    val unsorted = spark.read.parquet(s"$base/unsorted").filter(col("volume") >= cutoff)

    // identical answers ...
    val a = sorted.count()
    val b = unsorted.count()
    assert(a === b && a > 0)

    // ... but the sorted layout's scan emits far fewer rows: the pushed
    // range predicate skips row groups whose [min,max] lies under the
    // cutoff. This is the lower_bound-vs-linear-scan effect
    // (stockify.cu:672-696) expressed as data skipping.
    val sortedRead = scanOutputRows(sorted)
    val unsortedRead = scanOutputRows(unsorted)
    assert(sortedRead < unsortedRead / 2,
      s"expected row-group skipping: sorted read $sortedRead vs unsorted $unsortedRead")
  }

  test("z-ordered layout prunes row groups on BOTH dimensions; single-sort only on its own") {
    val rows = 200000L
    val synth = Tables.syntheticStocks(spark, rows)
    val zbits = 8
    val zcol = IndexPath.zValue(
      floor((col("volume") - 1200000) / 6641).cast("long"),   // ~256 buckets
      floor((col("close") - 500) / 0.67).cast("long"), zbits) // ~256 buckets
    synth.withColumn("__z", zcol).sort("__z").drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString).parquet(s"$base/zorder")
    synth.sort("volume").write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString).parquet(s"$base/vol-sorted")

    def readRows(path: String, c: String, cutoff: Double): Long =
      scanOutputRows(spark.read.parquet(path).filter(col(c) >= cutoff))

    val volCut = 2.6e6  // ~18% tail
    val closeCut = 640.0 // ~18% tail
    // volume probe: both layouts skip
    assert(readRows(s"$base/zorder", "volume", volCut) < rows / 2)
    assert(readRows(s"$base/vol-sorted", "volume", volCut) < rows / 2)
    // close probe: ONLY the z-ordered layout skips; the volume-sorted
    // layout has no close clustering and reads everything
    val zClose = readRows(s"$base/zorder", "close", closeCut)
    val vClose = readRows(s"$base/vol-sorted", "close", closeCut)
    assert(zClose < rows / 2, s"z-order should skip on close: read $zClose")
    assert(vClose > (rows * 9) / 10, s"volume-sort cannot skip on close: read $vClose")
  }

  test("partitionBy layout + filter → partition pruning at the scan") {
    val out = s"$base/by-flag"
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .partitionBy("l_returnflag").parquet(out)
    val df = spark.read.parquet(out).filter(col("l_returnflag") === "R")
    // the predicate becomes a PartitionFilter — non-matching directories
    // are never listed, the strongest form of data skipping
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"expected partition pruning in plan:\n$plan")
    assert(df.count() ===
      Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R").count())
  }

  test("i2 and i5 compute identical results (layout cannot change semantics)") {
    val probe = IndexPath.defs.map(d => d.name -> d).toMap
    val i2 = probe("i2_index_range_scan").run(spark, sf).collect()
    val i5 = probe("i5_linear_scan_baseline").run(spark, sf).collect()
    assert(i2.toSeq === i5.toSeq)
  }

  test("i6: count/min/max served from parquet footers (PushedAggregation, no row scan)") {
    val q = IndexPath.defs.find(_.name == "i6_stats_pushdown_agg").get
    val df = q.run(spark, sf)
    val tableRows = Tables.lineitem(spark, sf).count()
    // the scan must advertise the pushed aggregates and emit one row per
    // row GROUP (footer stats), not one per table row
    val read = scanOutputRows(df)
    assert(read < tableRows / 100,
      s"stats-pushdown scan emitted $read rows of a $tableRows-row table — it scanned data")
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedAggregation"),
      "plan must carry PushedAggregation on the scan node")
    // and the footer-served answer equals the row-scan answer
    val want = Tables.lineitem(spark, sf).agg(
      count(lit(1)), min("l_partkey"), max("l_partkey"),
      min("l_shipdate"), max("l_shipdate")).collect()(0)
    assert(df.collect()(0) === want)
  }

  test("map-index dedup keeps exactly one row per key (stockify.cu:711-714 quirk)") {
    val deduped = IndexPath.defs.find(_.name == "i3_map_index_dedup").get.run(spark, sf)
    val keys = deduped.select("l_partkey").collect().map(_.getLong(0))
    assert(keys.distinct.length === keys.length)
    val nKeys = Tables.lineitem(spark, sf).select("l_partkey").distinct().count()
    assert(keys.length === math.min(nKeys, 2000))
  }

  test("i7: the fact scan carries a dynamic pruning PartitionFilter, and prunes") {
    val df = IndexPath.defs.find(_.name == "i7_partition_pruning").get.run(spark, sf)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruningexpression"),
      s"partition scan must be runtime-filtered:\n$planStr")
    // force execution, then the final plan must show the scan touched
    // only the keep-years partitions (directory-level skip, not row skip)
    val years = df.collect().map(_.getInt(0))
    assert(years.nonEmpty && years.forall(_ % 3 == 0))
    val allYears = Tables.orders(spark, sf)
      .select(year(col("o_orderdate").cast("date"))).distinct().count()
    assert(years.length < allYears, "the dim filter must actually drop partitions")
  }
}
