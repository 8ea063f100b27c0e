package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class WindowSpec extends SparkSpec {

  private lazy val li = Tables.lineitem(spark, sf).cache()

  test("rolling frame aggregates rows i..i+9 (reference oracle intent, stockify.cu:513-521)") {
    import spark.implicits._
    val df = Seq.tabulate(20)(i => (1, i, i.toDouble)).toDF("g", "pos", "v")
    val w = Windows.rolling(Seq(col("g")), Seq(col("pos")), 0, 9)
    val got = df.select(col("pos"), avg("v").over(w).as("ma"))
      .orderBy("pos").collect().map(r => (r.getInt(0), r.getDouble(1)))
    // row 0 averages 0..9 = 4.5; row 5 averages 5..14 = 9.5
    assert(got(0)._2 === 4.5)
    assert(got(5)._2 === 9.5)
    // shrinking tail (divergence from the reference's unset tail,
    // stockify.cu:515): last row averages only itself
    assert(got(19)._2 === 19.0)
    // rolling min/max bound the avg pointwise
    val mins = df.select(min("v").over(w).as("m")).collect().map(_.getDouble(0))
    val maxs = df.select(max("v").over(w).as("m")).collect().map(_.getDouble(0))
    val avgs = df.select(avg("v").over(w).as("m")).collect().map(_.getDouble(0))
    mins.lazyZip(avgs).lazyZip(maxs).foreach { (lo, mid, hi) =>
      assert(lo <= mid && mid <= hi)
    }
  }

  test("partitioned rolling == global rolling restricted to one partition") {
    val one = li.filter(col("l_suppkey") === 1)
    val global = one.select(col("l_orderkey"), col("l_linenumber"),
      avg("l_extendedprice").over(Windows.rolling(Nil,
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice")), 0, 9)).as("ma"))
    val parted = one.select(col("l_orderkey"), col("l_linenumber"),
      avg("l_extendedprice").over(Windows.rolling(Seq(col("l_suppkey")),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice")), 0, 9)).as("ma"))
    assert(global.exceptAll(parted).count() === 0)
    assert(parted.exceptAll(global).count() === 0)
  }

  test("partitioned window plan has no single-partition global sort") {
    val plan = li.select(avg("l_extendedprice").over(
      Windows.rolling(Seq(col("l_suppkey")), Seq(col("l_shipdate")), 0, 9)))
      .queryExecution.executedPlan.toString
    // partitioned windows hash-partition on the key; only the compat-mode
    // w0 may use SinglePartition
    assert(plan.contains("hashpartitioning(l_suppkey"), s"plan:\n$plan")
    assert(!plan.contains("SinglePartition"), s"plan:\n$plan")
  }

  test("bollinger: variance numerator is non-negative and bands bracket correctly") {
    val r = graft.SparkEntry.queries("w11_bollinger")(spark, sf)
    assert(r.filter(col("var_num") < 0).count() === 0,
      "Cauchy-Schwarz: n*sum(x^2) >= sum(x)^2 must hold exactly")
    assert(r.filter(col("upper_band") < col("lower_band")).count() === 0)
    // head-of-partition rows (n=1) have zero variance: bands collapse
    assert(r.filter(col("n") === 1 &&
      col("upper_band") =!= col("lower_band")).count() === 0)
  }

  test("o1 total-order checksum: the ordinal needs no window and no __pid exchange") {
    // the whole point of o1: a GLOBAL permutation certified without a
    // global single-partition SORT — the ordinal is numbered per range
    // partition over the pinned range shuffle (a scan of its output, then
    // a per-partition sort); the only SinglePartition exchange allowed is
    // the final one-row aggregate
    val plan = graft.SparkEntry.queries("o1_total_order")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"), s"plan:\n$plan")
    assert(!plan.contains("hashpartitioning(__pid"), s"plan:\n$plan")
    assert(!plan.contains("Window ["), s"plan:\n$plan")
    val nSingle = "SinglePartition".r.findAllIn(plan).length
    assert(nSingle <= 1, s"$nSingle SinglePartition exchanges:\n$plan")
  }

  test("the prefix kernel pins its shuffle without a cache, __pid exchange or window") {
    val li = Tables.lineitem(spark, sf)
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_extendedprice"))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val ord = Windows.globalOrdinal(li, order)
    val total = Windows.blockRolling(ord, "__ord", frameEnd = 9, blockSize = 64) {
      (u, w) => u.withColumn("wn", count(lit(1)).over(w))
    }.agg(sum("wn")).head().getLong(0)
    // frames of 10 rows, shrinking to 9..1 over the last nine
    assert(total === 10 * li.count() - 45)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persisted: ${spark.sparkContext.getPersistentRDDs.values.mkString(", ")}")
    val plan = ord.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(__pid"), s"plan:\n$plan")
    assert(!plan.contains("Window ["), s"plan:\n$plan")
  }

  test("globalOrdinal is a dense 0..n-1 permutation honoring the total order") {
    val li = Tables.lineitem(spark, sf)
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_extendedprice"))
    val o = Windows.globalOrdinal(li, order).cache()
    val n = li.count()
    assert(o.count() === n)
    assert(o.agg(min("__ord"), max("__ord")).collect()(0).toSeq === Seq(0L, n - 1))
    assert(o.select("__ord").distinct().count() === n, "ordinal must be dense/unique")
    // the ordinal order IS the total order: single-partition row_number
    // over the same keys agrees everywhere
    val ref = li.withColumn("__ref",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(order: _*))
        .cast("long") - 1L)
    val joined = o.join(ref, Seq("l_orderkey", "l_linenumber", "l_shipdate",
      "l_partkey", "l_extendedprice"))
    assert(joined.filter(col("__ord") =!= col("__ref")).count() === 0)
    o.unpersist()
  }

  test("blockRolling == the single-partition global window, row for row") {
    val li = Tables.lineitem(spark, sf)
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_extendedprice"))
    val ord = Windows.globalOrdinal(li, order)
    // tiny blocks so sf0.001 still crosses MANY boundaries — the carry
    // path is exercised hundreds of times, not once
    val got = Windows.blockRolling(ord, "__ord", frameEnd = 9, blockSize = 64) {
      (u, w) => u.withColumn("ws",
        sum(round(col("l_extendedprice") * 100).cast("long")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
    }.select(col("__ord"), col("ws"), col("wn"))
      .orderBy("__ord").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .orderBy(order: _*).rowsBetween(0, 9)
    val want = li
      .withColumn("ws", sum(round(col("l_extendedprice") * 100).cast("long")).over(wGlobal))
      .withColumn("wn", count(lit(1)).over(wGlobal))
      .withColumn("__ord",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(order: _*))
          .cast("long") - 1L)
      .select(col("__ord"), col("ws"), col("wn"))
      .orderBy("__ord").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
    // and the corpus-sized window must execute under hashpartitioning on
    // the block id (the ordinal helper's tiny offsets window is the only
    // permitted single-partition window — ≤ 2×cores rows, not the corpus)
    val plan = Windows.blockRolling(ord, "__ord", 9, 64) { (u, w) =>
      u.withColumn("x", count(lit(1)).over(w))
    }.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__blk"),
      s"block window must be partitioned by __blk:\n$plan")
  }

  test("running sum is monotone within its partition and ends at partition total") {
    import spark.implicits._
    val w = Windows.rolling(Seq(col("g")), Seq(col("pos")),
      Long.MinValue, 0)
    val df = Seq((1, 0, 2L), (1, 1, 3L), (1, 2, 5L), (2, 0, 7L)).toDF("g", "pos", "v")
    val got = df.select(col("g"), col("pos"), sum("v").over(w).as("cum"))
      .orderBy("g", "pos").collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(got.toSeq === Seq((1, 2L), (1, 5L), (1, 10L), (2, 7L)))
  }

  test("w10 weighted MA: hand-computed numerator/denominator at the partition head") {
    import spark.implicits._
    val dir = freshRoot("graft-w10")
    // one supplier, three rows in series order; prices 1.00 / 2.00 / 3.00
    Seq(
      (7L, 101L, 1, 11L, java.sql.Date.valueOf("1995-01-01"), 1.00),
      (7L, 102L, 1, 12L, java.sql.Date.valueOf("1995-01-02"), 2.00),
      (7L, 103L, 1, 13L, java.sql.Date.valueOf("1995-01-03"), 3.00))
      .toDF("l_suppkey", "l_orderkey", "l_linenumber", "l_partkey",
        "l_shipdate", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Windows.defs.find(_.name == "w10_weighted_ma").get.run(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4), r.getDouble(5)))
    // head rows drop missing lags: weights 10 / 10+9 / 10+9+8
    assert(got.toSeq === Seq(
      (101L, 1000L, 10L, 1.0),         // 10·100
      (102L, 2900L, 19L, 1.5263),      // 10·200 + 9·100; 290000 div 19 = 15263
      (103L, 5600L, 27L, 2.074)))      // 10·300 + 9·200 + 8·100; 560000 div 27 = 20740
  }

  test("w12 EMA: checksums match an independent BigInt recomputation") {
    import spark.implicits._
    val dir = freshRoot("graft-w12")
    // one supplier, 34 rows, price i.00 at day i — 3 full-history rows
    val rows = (1 to 34).map { i =>
      (7L, 100L + i, 1, 10L + i,
        java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i - 1)), i * 1.0)
    }
    rows.toDF("l_suppkey", "l_orderkey", "l_linenumber", "l_partkey",
      "l_shipdate", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Windows.defs.find(_.name == "w12_ema").get.run(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent recomputation: ema(t) = Σ_{j=0..31} cents(t−j)·2^(31−j)
    val cents = (1 to 34).map(_ * 100L)
    val emas = (31 until 34).map { t =>
      (0 until 32).map(j => BigInt(cents(t - j)) << (31 - j)).sum
    }
    val rns = (32 to 34).map(BigInt(_))
    val exp = (
      emas.size.toLong,
      emas.map(_ >> 32).sum.toLong,
      emas.map(_ & 0xffffffffL).sum.toLong,
      emas.zip(rns).map { case (e, rn) => ((rn % 251) + 1) * (e % 1000003) }.sum.toLong)
    assert(got.toSeq === Seq(exp))
  }

  test("globalRunningMax == the single-partition reference, with no SinglePartition window") {
    import graft.sources.Tables
    val base = Tables.lineitem(spark, sf)
      .withColumn("c", round(col("l_extendedprice") * 100).cast("long"))
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_extendedprice"))
    val got = Windows.globalRunningMax(base, order, col("c"))
      .select("__ord", "__runmax").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    // dense 0-based ordinals
    assert(got.map(_._1).toSeq === got.indices.map(_.toLong))
    // reference: driver-side prefix max over the totally-ordered values
    val vals = base.orderBy(order: _*).select("c").collect().map(_.getLong(0))
    val want = vals.scanLeft(Long.MinValue)(math.max).tail
    assert(got.map(_._2).toSeq === want.toSeq)
    // and the plan never collapses to one partition
    spark.catalog.clearCache()
    assert(graft.plans.PlanAudit.singlePartitionWindows(
      Windows.globalRunningMax(base, order, col("c"))).isEmpty)
  }
}
