package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class AggregateSpec extends SparkSpec {

  private lazy val li = Tables.lineitem(spark, sf).cache()

  test("global sum/min/max agree with a driver-side reduction") {
    val rows = li.select("l_extendedprice").collect().map(_.getDouble(0))
    val Array(got) = Aggregates.globalSum(li, "l_extendedprice").collect()
    assert(math.abs(got.getDouble(0) - rows.sum) < 1e-4 * math.abs(rows.sum))
    assert(Aggregates.globalMin(li, "l_extendedprice").collect()(0).getDouble(0) === rows.min)
    assert(Aggregates.globalMax(li, "l_extendedprice").collect()(0).getDouble(0) === rows.max)
  }

  test("grouped sums partition the global sum") {
    val global = li.agg(sum("l_quantity")).collect()(0).getDouble(0)
    val grouped = li.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      .agg(sum("s")).collect()(0).getDouble(0)
    assert(math.abs(global - grouped) < 1e-6 * math.abs(global))
  }

  test("approx_count_distinct within 5% of exact (a8 scale path)") {
    val exact = li.select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val approx = li.agg(approx_count_distinct(col("l_partkey"), 0.02))
      .collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("rollup emits group rows + subtotals + grand total") {
    val flags = li.select("l_returnflag").distinct().count()
    val pairs = li.select("l_returnflag", "l_linestatus").distinct().count()
    val rollup = li.rollup("l_returnflag", "l_linestatus").count().count()
    assert(rollup === pairs + flags + 1)
  }

  test("empty input produces null sum / zero count (reference never handles this)") {
    val empty = li.filter(lit(false))
    val r = empty.agg(sum("l_quantity"), count(lit(1))).collect()(0)
    assert(r.isNullAt(0) && r.getLong(1) === 0L)
  }

  test("a14: regression family recovers an exact line (slope 2, intercept 1)") {
    import spark.implicits._
    val dir = freshRoot("graft-a14")
    // y = 2x + 1 exactly: corr = r² = 1, covar_samp = 2, covar_pop = 4/3
    Seq(("A", 1.0, 3.0), ("A", 2.0, 5.0), ("A", 3.0, 7.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Aggregates.defs.find(_.name == "a14_regression").get
      .run(spark, dir).collect()(0)
    assert(r.getLong(1) === 3L)
    assert(r.getDouble(2) === 1.0 && r.getDouble(3) === 1.0)
    assert(r.getDouble(4) === 2.0 && r.getDouble(5) === 1.3333)
    assert(r.getDouble(6) === 2.0 && r.getDouble(7) === 1.0)
  }

  test("a15: salted two-phase aggregation equals the direct single-phase plan") {
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"),
        min(round(col("l_extendedprice") * 100).cast("long")).as("lo"),
        max(round(col("l_extendedprice") * 100).cast("long")).as("hi"))
      .orderBy("l_returnflag").collect().toSeq
    val salted = Aggregates.defs.find(_.name == "a15_salted_agg").get
      .run(spark, sf).collect().toSeq
    assert(salted === direct)
  }
}
