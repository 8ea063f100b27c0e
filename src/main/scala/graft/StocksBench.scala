package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Apples-to-apples throughput run against the reference's ACTUAL dataset
  * and experiment list (stockify.cu main(): 6 filters, sum, 3 rolling
  * windows over the 5,613,299-row stocks table) — the reference prints
  * its CPU/GPU ms at runtime on this exact data, so this main produces
  * the directly comparable numbers for our side. Not part of the driver
  * contract; emits one JSON line like Bench.
  *
  * Methodology mirrors the reference's: the table is loaded once into
  * memory (its host vector + device snapshot ≈ our cached DataFrame,
  * materialized before timing), then each experiment is timed over the
  * in-memory data. Filters/aggregates use all cores (the reference's GPU
  * kernels are also data-parallel); the three w-experiments keep the
  * reference's single global row order (stockify.cu:517-615 index the one
  * load-ordered array), which on Spark is the documented single-partition
  * compat window — the honest equivalent, not a partitioned rewrite.
  */
object StocksBench {
  def main(args: Array[String]): Unit = {
    // driver memory cannot be set here (local mode = this JVM, -Xmx is
    // fixed at launch); size the launcher's heap via SBT_OPTS
    val spark = GraftSession.build("graft-stocks-bench")

    val csvPath = sources.Tables.ensureStocksCsv()
    // load once; materialize the cache BEFORE timing (the reference times
    // kernels against the already-loaded table, not the CSV parse)
    val df = sources.Tables.stocksCsv(spark, csvPath)
      .withColumn("rid", monotonically_increasing_id())
      .cache()
    val n = df.count()

    // min of two runs — the reference times its kernels after the JVM-free
    // CUDA context is warm; min-of-2 is our equivalent steady-state read
    // (first run carries codegen compile + JIT)
    def time(f: => Unit): Double = {
      def once: Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val a = once; val b = once; math.min(a, b)
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    // experiment 1: the six filters (stockify.cu:229-452)
    val filters = Seq(
      "filter_volume_ge_1m" -> (col("volume") >= 1000000L),
      "filter_close_ge_100" -> (col("close") >= 100.0),
      "filter_open_ge_100" -> (col("open") >= 100.0),
      "filter_high_ge_100" -> (col("high") >= 100.0),
      "filter_low_ge_100" -> (col("low") >= 100.0),
      "filter_high_and_low" -> (col("high") >= 100.0 && col("low") >= 100.0))
    filters.foreach { case (name, pred) =>
      results(name) = time(df.filter(pred).agg(count(lit(1))).collect())
    }

    // experiment 2: global sum + the three 10-row rolling windows
    // (stockify.cu:476-621); single global order = the reference's layout.
    // Both forms of the same exact semantics are timed: the naive
    // single-partition global window (w0's compat shape) and the
    // block-carry distributed form (operators.Windows.blockRolling over a
    // dense ordinal — bit-identical result, all cores).
    results("sum_low") = time(df.agg(sum("low")).collect())
    val w = Window.orderBy("rid").rowsBetween(0, 9)
    Seq("moving_avg_close" -> avg(col("close")).over(w),
        "rolling_min_low" -> min(col("low")).over(w),
        "rolling_max_high" -> max(col("high")).over(w))
      .foreach { case (name, e) =>
        results(name) = time(
          df.select(e.as("x")).agg(sum(col("x").cast("double"))).collect())
      }
    val ord = operators.Windows.globalOrdinal(df, Seq(col("rid"))).cache()
    ord.count() // materialize the ordinal once; probes time the windows
    def block(name: String, x: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        src: String): Unit =
      results(name) = time(
        operators.Windows.blockRolling(ord, "__ord", 9, 65536) { (u, win) =>
          u.withColumn("x", x(col(src)).over(win))
        }.agg(sum(col("x").cast("double"))).collect())
    block("block_moving_avg_close", avg, "close")
    block("block_rolling_min_low", min, "low")
    block("block_rolling_max_high", max, "high")
    ord.unpersist()

    // experiments 3 / 3.1 (stockify.cu:640-739): the index path on the
    // reference's 10M-row synthetic table — sorted index build +
    // lower_bound probe (volume >= 1.8e6) vs linear scan, then the
    // map-based index with its last-write-wins-per-volume-key quirk
    // (std::map[volume] = stock overwrites; stockify.cu:712-714). The
    // Spark equivalents are the i1-i5 operators' shapes: a range-
    // partitioned volume-sorted Parquet layout (build), a min/max
    // row-group-skipping pushdown scan (probe), and the same filter over
    // the unsorted cached frame (linear baseline).
    val syn = sources.Tables.syntheticStocks(spark, 10000000L)
      .withColumn("rid", monotonically_increasing_id()).cache()
    results("synthetic_10m_materialize") = time(syn.count())
    val sortedLayout = s"${Paths.work}/stocks-bench-index/sorted"
    results("index_build_sorted") = time {
      syn.repartitionByRange(32, col("volume"))
        .sortWithinPartitions("volume")
        .write.mode("overwrite").parquet(sortedLayout)
    }
    val sortedIdx = spark.read.parquet(sortedLayout)
    results("index_probe_volume_ge_1_8m") = time(
      sortedIdx.filter(col("volume") >= 1800000)
        .agg(count(lit(1)), sum("close")).collect())
    results("linear_scan_volume_ge_1_8m") = time(
      syn.filter(col("volume") >= 1800000)
        .agg(count(lit(1)), sum("close")).collect())
    val mapLayout = s"${Paths.work}/stocks-bench-index/map"
    results("map_index_build") = time {
      val lastPerKey = Window.partitionBy("volume").orderBy(col("rid").desc)
      syn.withColumn("rn", row_number().over(lastPerKey))
        .filter(col("rn") === 1).drop("rn")
        .repartitionByRange(32, col("volume"))
        .sortWithinPartitions("volume")
        .write.mode("overwrite").parquet(mapLayout)
    }
    val mapIdx = spark.read.parquet(mapLayout)
    results("map_index_probe_volume_ge_1_8m") = time(
      mapIdx.filter(col("volume") >= 1800000)
        .agg(count(lit(1)), sum("close")).collect())
    syn.unpersist()

    // locale-pinned formatting, as in Bench: a comma-decimal JVM default
    // locale would emit invalid JSON
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val qs = results.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")
    println(s"""{"metric":"stocks_total","value":${fmt(results.values.sum)},"unit":"sec","rows":$n,"queries":{$qs}}""")
    spark.stop()
  }
}
