package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

/** Pins the r18 bytes-aware partition-count rule (optimization brief
  * item 4): CPU floor at sandbox bytes, bytes-driven past the floor,
  * leaf-sum (not join-product) sizing, and the hard ceiling. */
class ParSpec extends SparkSpec {

  private def spreadCount(df: DataFrame, keys: Column*): Int =
    Par.spread(df, keys: _*).queryExecution.analyzed.collect {
      case r: RepartitionByExpression => r.optNumPartitions
    }.flatten.head

  test("parts: CPU floor at MB scale, bytes-driven past it, join-proof, capped") {
    import spark.implicits._
    val cpu = 2 * spark.sparkContext.defaultParallelism
    val df = (1 to 1000).toDF("x")
    // sandbox scale: every local input is far under 2*cores*64MB, so the
    // count is exactly the r17 CPU floor — plans unchanged at sf0.1
    assert(spreadCount(df, col("x")) === cpu)
    spark.conf.set("spark.graft.parts.targetBytes", "8")
    try {
      // with an 8-byte target the same frame's leaf bytes dominate
      val n = spreadCount(df, col("x"))
      assert(n > cpu, s"expected bytes-driven count above the $cpu floor, got $n")
      // a self-join derives from the SUM of its leaves (~2n), never the
      // product estimate CBO-less Catalyst puts on the join node itself
      val nj = spreadCount(df.as("l").join(df.as("r"), "x"), col("x"))
      assert(nj >= n && nj <= 2 * n + cpu,
        s"join count $nj should be ~2x the single-leaf $n, not a product blowup")
      // the ceiling bounds any estimate
      spark.conf.set("spark.graft.parts.max", "128")
      assert(spreadCount(df, col("x")) === 128)
      spark.conf.set("spark.graft.parts.max", (1 << 18).toString)
      // a CACHED join interposed in the lineage must not inflate the
      // count: the analyzed plan's leaves bypass InMemoryRelation's
      // inherited join-product estimate (the g2 250 s regression shape)
      val cached = df.as("l").join(df.as("r"), "x").cache()
      try {
        val nk = spreadCount(cached.groupBy("x").count(), col("x"))
        assert(nk >= n && nk <= 2 * n + cpu,
          s"cached-join lineage drove the count to $nk (single-leaf is $n)")
      } finally cached.unpersist()
      // a localCheckpoint leaf must not poison the sum: either its
      // LogicalRDD carries real stats (Spark 4 propagates them) or the
      // defaultSizeInBytes sentinel is skipped — never the cap blowup
      val nc = spreadCount(df.localCheckpoint(), col("x"))
      assert(nc <= 2 * n && nc != (1 << 18),
        s"localCheckpoint leaf drove the count to $nc (single-leaf is $n)")
    } finally {
      spark.conf.unset("spark.graft.parts.targetBytes")
      spark.conf.unset("spark.graft.parts.max")
    }
  }

  test("the pinned ordinal frame keeps its input's bytes-driven partition count") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_extendedprice"))
    withSQLConf("spark.graft.parts.targetBytes" -> "4096") {
      val n = Par.prefixParts(li)
      val cpu = 2 * spark.sparkContext.defaultParallelism
      assert(n > cpu, s"the bytes term must dominate: $n vs the $cpu floor")
      val ord = Windows.globalOrdinal(li, order)
      assert(Par.prefixParts(ord) === n)
      // blockRolling's __blk spread sizes from the ordinal frame's leaf
      val blk = Windows.blockRolling(ord, "__ord", frameEnd = 9, blockSize = 64)(
        (u, _) => u).queryExecution.analyzed.collect {
        case r: RepartitionByExpression => r.optNumPartitions
      }.flatten
      assert(blk === Seq(n))
    }
  }

  test("prefixParts agrees across repeated calls on the same frame") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    assert(Par.prefixParts(df) === Par.prefixParts(df))
  }
}
