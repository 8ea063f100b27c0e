package graft.plans

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Runtime filtering — the two bloom-filter tiers of the access-path story
  * (SURVEY §2.5 extension; the reference's only access path is a sorted
  * index, stockify.cu:658-696):
  *
  *   1. RUNTIME bloom-filter join pruning: when a selective dimension
  *      filter feeds a shuffle join, Catalyst's InjectRuntimeFilter builds
  *      a bloom filter of the dimension keys at runtime and pushes a
  *      `might_contain` probe into the FACT side scan — at 100 TB this
  *      prunes most of the fact shuffle before it happens, the same effect
  *      a static partition-prune has but for arbitrary join keys.
  *
  *   2. STORAGE bloom filters in the parquet layout: min/max row-group
  *      stats (IndexSpec) only help range probes over clustered layouts;
  *      a point lookup on an UNSORTED high-cardinality column needs a
  *      bloom per row group. Parquet supports them natively as a write
  *      option — the layout carries the index, no engine code.
  */
class RuntimeFilterSpec extends SparkSpec {

  test("selective dim filter injects a runtime bloom filter into the fact scan") {
    withSQLConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // testdata is far below the production-size gates — drop them so the
      // rewrite fires at test scale (at real scale the defaults ensure the
      // filter only builds when the fact side is big enough to be worth it)
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // force the shuffle join shape the filter exists for
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val q = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("q"))

      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter_agg") ||
        optimized.contains("might_contain"),
        s"runtime bloom filter not injected:\n$optimized")

      // semantics-free: same answer with the rewrite off
      val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      withSQLConf("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        val want = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("q"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        assert(got.toSeq === want.toSeq)
      }
    }
  }

  test("parquet layout carries bloom filters for the enabled column only") {
    val dir = freshRoot("bloom-layout")
    // UNSORTED layout: min/max stats are useless for point lookups here —
    // the bloom is what a reader would probe
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
      .repartition(4)
      .write
      .option("parquet.bloom.filter.enabled#l_partkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
      // test-scale quirk: parquet-mr SKIPS the bloom when a column ends up
      // fully dictionary-encoded (the dictionary already filters exactly);
      // sf0.001 is small enough that every column dictionary-encodes, so
      // turn dictionaries off to force the bloom path a production-size
      // row group would take anyway
      .option("parquet.enable.dictionary", "false")
      .parquet(dir)

    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val conf = spark.sessionState.newHadoopConf()
    val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(input)
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getRowGroups.asScala.head.getColumns.asScala
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      assert(cols("l_partkey") >= 0, s"no bloom filter written: $cols")
      assert(cols("l_orderkey") < 0, s"bloom leaked to a disabled column: $cols")
    } finally reader.close()

    // and the point lookup over that layout still answers exactly
    val want = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") === 17).count()
    assert(spark.read.parquet(dir).filter(col("l_partkey") === 17).count() === want)
  }
}
