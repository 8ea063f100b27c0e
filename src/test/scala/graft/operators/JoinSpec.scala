package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class JoinSpec extends SparkSpec {

  private lazy val orders = Tables.orders(spark, sf).cache()
  private lazy val li = Tables.lineitem(spark, sf).cache()
  private lazy val cust = Tables.customer(spark, sf).cache()

  test("dimension joins broadcast (no shuffle of the fact table for dims)") {
    val q = li.join(broadcast(cust.filter(col("c_mktsegment") === "BUILDING")),
      col("l_orderkey") === col("c_custkey")) // key choice irrelevant to plan shape
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("merge hint pins sort-merge for the fact-fact join") {
    val q = li.hint("merge").join(orders, col("l_orderkey") === col("o_orderkey"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"plan:\n$plan")
  }

  test("semi + anti partition orders by lineitem-match existence") {
    val hot = li.filter(col("l_quantity") >= 49)
    val semi = orders.join(hot, col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    val anti = orders.join(hot, col("o_orderkey") === col("l_orderkey"), "left_anti").count()
    assert(semi + anti === orders.count())
    // semi never duplicates: distinct matched orderkeys == semi count
    val distinctMatched = hot.select("l_orderkey").distinct()
      .join(orders, col("l_orderkey") === col("o_orderkey")).count()
    assert(semi === distinctMatched)
  }

  test("left outer keeps every left row") {
    val joined = orders.join(li.filter(col("l_quantity") >= 49),
      col("o_orderkey") === col("l_orderkey"), "left")
    // every order appears at least once
    assert(joined.select("o_orderkey").distinct().count() === orders.count())
  }

  test("registered j2 star join broadcasts every dimension (single fact-fact shuffle at most)") {
    val q = Joins.defs.find(_.name == "j2_star_q5").get.run(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 4, s"expected >=4 broadcast dim joins, got $nBroadcast:\n$plan")
    // nation/region/supplier/customer must never shuffle the fact table
    val nSmj = "SortMergeJoin".r.findAllIn(plan).length
    assert(nSmj <= 1, s"at most the lineitem-orders join may sort-merge:\n$plan")
  }

  test("inner join row count equals sum of per-key products") {
    val n = li.join(orders, col("l_orderkey") === col("o_orderkey")).count()
    // orders has unique o_orderkey, so inner join count == lineitems with a
    // matching order
    val matched = li.join(orders.select("o_orderkey").distinct(),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(n === matched)
  }

  test("j9 distribution conserves customers and counts null-extension as zero orders") {
    val custdist = Joins.defs.find(_.name == "j9_q13_custdist").get.run(spark, sf)
      .collect()
    val nCust = graft.sources.Tables.table(spark, sf, "customer").count()
    // every customer lands in exactly one bucket
    assert(custdist.map(_.getLong(1)).sum === nCust)
    // the left join must keep customers whose only orders are URGENT ⇒
    // they appear in the c_count=0 bucket iff such customers exist
    val zeroBucketCustomers = graft.sources.Tables.table(spark, sf, "customer")
      .join(graft.sources.Tables.table(spark, sf, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti").count()
    val zeroBucket = custdist.find(_.getLong(0) === 0L).map(_.getLong(1)).getOrElse(0L)
    assert(zeroBucket === zeroBucketCustomers,
      "outer-join zero bucket must equal the anti-join survivor count")
  }

  test("j10 emits exactly the argmax suppliers and computes max once (broadcast decoration)") {
    val top = Joins.defs.find(_.name == "j10_q15_top_supplier").get.run(spark, sf)
    val rows = top.collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getDouble(2)).distinct
    assert(revs.length === 1, "all emitted suppliers must share the max revenue")
    val plan = top.queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(plan).nonEmpty,
      s"the one-row max must broadcast, not shuffle:\n$plan")
  }

  test("j14 pushes single-table hulls of the cross-table disjunction to BOTH scans") {
    // this suite caches lineitem; a cached relation swallows PushedFilters
    // (InMemoryTableScan), so assert against fresh scans and restore after
    spark.catalog.clearCache()
    try {
      val plan = Joins.defs.find(_.name == "j14_q19_disjunctive").get.run(spark, sf)
        .queryExecution.executedPlan.toString
      // Catalyst must extract the part-only and lineitem-only implications
      // of the OR-of-ANDs and push them below the join — a naive plan
      // evaluates the disjunction after joining everything
      assert(plan.contains("Or(Or(And(EqualTo(p_brand,Brand#1)"),
        s"part scan must carry the brand/size hull:\n$plan")
      assert(plan.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
        s"lineitem scan must carry the quantity hull:\n$plan")
    } finally { li.cache(); orders.cache(); cust.cache() } // re-mark ALL suite caches
  }

  test("j12 promo share is a true percentage of the joined window") {
    val r = Joins.defs.find(_.name == "j12_q14_promo_share").get.run(spark, sf).collect()(0)
    val share = r.getDouble(0)
    assert(share >= 0.0 && share <= 100.0, s"promo share $share out of range")
    assert(r.getLong(1) > 0, "date window must select rows at this sf")
  }

  test("j15 q21 shape: sole-blame supplier counted; shared blame, single-supplier, and open orders excluded") {
    import spark.implicits._
    val dir = freshRoot("graft-j15")
    // order 1 (F): s1 returns, s2/s3 clean  → s1 is sole-blame, counted
    // order 2 (F): s1 AND s2 return         → shared blame, nobody counted
    // order 3 (F): s1 returns, sole supplier → no co-supplier, excluded
    // order 4 (P): s3 returns, s2 clean     → order not finished, excluded
    Seq(
      (1L, 1L, "R"), (1L, 2L, "N"), (1L, 3L, "N"),
      (2L, 1L, "R"), (2L, 2L, "R"),
      (3L, 1L, "R"),
      (4L, 3L, "R"), (4L, 2L, "N"))
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "F"), (2L, "F"), (3L, "F"), (4L, "P"))
      .toDF("o_orderkey", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "Supp#1"), (2L, "Supp#2"), (3L, "Supp#3"))
      .toDF("s_suppkey", "s_name")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val got = Joins.defs.find(_.name == "j15_q21_shape").get.run(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("Supp#1", 1L)))
    // the Q21 plan shape: the EXISTS runs as a semi join, the NOT EXISTS
    // as an anti join (never join+distinct / join+filter-null)
    val plan = Joins.defs.find(_.name == "j15_q21_shape").get.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"plan:\n$plan")
    assert(plan.contains("LeftAnti"), s"plan:\n$plan")
  }

  test("j19: per-part 20%-of-average threshold admits only the small-quantity row") {
    import spark.implicits._
    val dir = freshRoot("graft-j19")
    Seq((1L, "Brand#1", 5), (2L, "Brand#2", 5))
      .toDF("p_partkey", "p_brand", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // part 1: quantities 1/10/10/10 → avg 7.75, threshold 1.55 → only the
    // qty-1 row (price 700) survives; part 2's qty-1 row is brand-filtered
    Seq((1L, 1.0, 700.0), (1L, 10.0, 500.0), (1L, 10.0, 500.0),
      (1L, 10.0, 500.0), (2L, 1.0, 900.0))
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Joins.defs.find(_.name == "j19_q17_shape").get.run(spark, dir).collect()(0)
    assert(r.getDouble(0) === 100.0 && r.getLong(1) === 1L)  // 700/7
  }

  test("j22 plan: shuffled-hash join on (key, salt) — no broadcast dodge") {
    val df = Joins.defs.find(_.name == "j22_skew_salted_join").get.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(plan.contains("__salt"), s"join keys should include the salt:\n$plan")
  }

  test("j20/j21 plans: every dimension broadcasts; lineitem-orders is the only shuffle join") {
    for (name <- Seq("j20_q8_shape", "j21_q9_shape")) {
      val plan = Joins.defs.find(_.name == name).get.run(spark, sf)
        .queryExecution.executedPlan.toString
      val nBcast = "BroadcastHashJoin".r.findAllIn(plan).length
      val nSmj = "SortMergeJoin".r.findAllIn(plan).length
      val nShj = "ShuffledHashJoin".r.findAllIn(plan).length
      assert(nBcast >= 2, s"$name: dims should broadcast\n$plan")
      assert(nSmj + nShj <= 1, s"$name: only lineitem-orders may shuffle\n$plan")
    }
  }

  test("j23: decorrelated min-cost window — per-part minimum, no rescan join") {
    import spark.implicits._
    val dir = freshRoot("graft-j23")
    Seq((1L, "alpha", "PROMO", 10), (2L, "beta", "PROMO", 10),
      (3L, "gamma", "OTHER", 10))
      .toDF("p_partkey", "p_name", "p_type", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((10L, "Supp#A", 100.0, 0L), (11L, "Supp#B", 200.0, 0L),
      (12L, "Supp#C", 300.0, 1L))
      .toDF("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((0L, "FRANCE", 0L), (1L, "BRAZIL", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((0L, "EUROPE"), (1L, "AMERICA"))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    // part 1: EU costs 5.00 (A) and 3.00 (B) → B wins; C (AMERICA, 1.00)
    // must be excluded BEFORE the min. part 2: only A quotes → A wins.
    // part 3 matches costs but fails the p_type filter.
    Seq((1L, 10L, 5.0), (1L, 11L, 3.0), (1L, 12L, 1.0),
      (2L, 10L, 7.0), (3L, 10L, 2.0))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Joins.defs.find(_.name == "j23_q2_shape").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(5)))
    // acctbal DESC: Supp#B (200.0) outranks Supp#A (100.0)
    assert(got.toSeq === Seq((1L, "Supp#B", 300L), (2L, "Supp#A", 700L)))
    // plan: the correlated min must be a Window over the grouped frame,
    // never a second scan of lineitem (one FileScan of lineitem total)
    val plan = Joins.defs.find(_.name == "j23_q2_shape").get.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"plan:\n$plan")
    assert("Scan parquet.*lineitem".r.findAllIn(plan).length <= 1,
      s"lineitem must be scanned once:\n$plan")
  }

  test("j24: global-total fraction filter broadcasts the one-row total") {
    val df = Joins.defs.find(_.name == "j24_q11_shape").get.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the scalar total joins back as a broadcast nested loop of ONE row —
    // cheap by construction; the per-part aggregate must not re-shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    // value semantics are DuckDB-certified (j24 oracle); here pin the
    // output invariants: descending value order, all positive
    val vals = df.collect().map(_.getLong(1))
    assert(vals.nonEmpty && vals.forall(_ > 0))
    assert(vals.sameElements(vals.sorted(Ordering[Long].reverse)))
  }

  test("j25/j26 plans: exclusion and pattern sets broadcast; no cartesian") {
    for (name <- Seq("j25_q16_shape", "j26_q20_shape")) {
      val plan = Joins.defs.find(_.name == name).get.run(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
    }
    // j25 semantics: distinct supplier count ignores duplicate lines
    import spark.implicits._
    val dir = freshRoot("graft-j25")
    Seq((1L, "Brand#2", "T", 5)).toDF("p_partkey", "p_brand", "p_type", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((7L, "ex"), (8L, "in")).toDF("s_suppkey", "s_name")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // supplier 7 is excluded (7 % 7 = 0); duplicate (1,8) lines count once
    Seq((1L, 7L), (1L, 8L), (1L, 8L)).toDF("l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Joins.defs.find(_.name == "j25_q16_shape").get.run(spark, dir).collect()
    assert(r.map(x => (x.getString(0), x.getLong(3))).toSeq === Seq(("Brand#2", 1L)))
  }

  test("j27: one fact shuffle feeds detail agg, brand window, and subtotals") {
    val run = Joins.defs.find(_.name == "j27_q67_category_share").get
    // the repartition(p_type) is the ONLY hash shuffle: the (type, brand)
    // aggregation, the brand-rank window, and the type re-aggregation all
    // reuse its distribution (clustered-distribution satisfaction). Each
    // consuming branch re-resolves the subtree under fresh attribute ids,
    // so the pin runs with AQE off, where the reuse rule rewrites the
    // duplicates to ReusedExchangeExec and the surviving
    // ShuffleExchangeExec count IS the number of shuffles executed.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = run.run(spark, sf)
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val shuffles = q.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(shuffles.size === 1,
        s"expected exactly 1 hash exchange, plan:\n${q.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // semantic floor: shares add up per parent (ppm, integer-truncated:
    // each group's sum lands within |group| of 1e6), ranks are 1-based
    // contiguous within each mfgr
    val rows = q.collect()
    val lvl0 = rows.filter(_.getInt(0) == 0)
    val byMfgr = lvl0.groupBy(_.getString(1))
    byMfgr.foreach { case (mf, rs) =>
      val shareSum = rs.map(_.getLong(5)).sum
      assert(shareSum <= 1000000L && shareSum > 1000000L - rs.length, s"$mf: $shareSum")
      assert(rs.map(_.getInt(4)).sorted.toSeq === (1 to rs.length), mf)
    }
    val lvl1 = rows.filter(_.getInt(0) == 1)
    assert(lvl1.map(_.getInt(4)).sorted.toSeq === (1 to lvl1.length))
    // the grand row equals the sum of the mfgr subtotals, which equals the
    // sum of the brand details
    val grand = rows.filter(_.getInt(0) == 2)
    assert(grand.length === 1)
    assert(grand(0).getLong(3) === lvl1.map(_.getLong(3)).sum)
    assert(grand(0).getLong(3) === lvl0.map(_.getLong(3)).sum)
  }

  test("broadcast-disabled resilience: star join answers identically under SMJ fallback") {
    // at real scale a "small" dim can outgrow the broadcast threshold;
    // the engine's answers must not depend on the join strategy chosen.
    // Explicit broadcast() hints survive a -1 threshold, so this runs the
    // UNHINTED SQL form where the planner decides from the threshold.
    val sql =
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin
    Seq("lineitem", "orders", "customer", "nation").foreach { t =>
      graft.sources.Tables.table(spark, sf, t).createOrReplaceTempView(t)
    }
    val withBroadcast = spark.sql(sql).collect().map(_.toString)
    val (noBroadcast, usedSmj) =
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val df = spark.sql(sql)
        val plan = df.queryExecution.executedPlan.toString
        (df.collect().map(_.toString), plan.contains("SortMergeJoin"))
      }
    assert(usedSmj, "threshold -1 must force the sort-merge fallback path")
    assert(noBroadcast.toSeq === withBroadcast.toSeq,
      "join strategy changed the answer")
  }

  test("runtime bloom-filter injection prunes the fact side of a selective shuffle join") {
    // Catalyst's InjectRuntimeFilter: a selective filter on one side of a
    // shuffle join grows a bloom_filter_agg on that side and a
    // might_contain gate on the fact side — rows that cannot match are
    // dropped BEFORE the shuffle. At 100 TB this is the difference
    // between shuffling the whole fact table and shuffling the matching
    // slice. Thresholds: broadcast off (broadcast joins don't need the
    // filter), application-side floor 0 (the sf0.001 scan is far below
    // the 10GB production default).
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      spark.catalog.clearCache()
      val li = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"runtime filter not injected:\n$opt")
      // and it must not change the answer vs the un-filtered plan
      val rows = j.collect().map(_.toString)
      val plain = withSQLConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
          .orderBy("o_orderpriority").collect().map(_.toString)
      }
      assert(rows.toSeq === plain.toSeq)
    }
  }

  test("j28: one fact-sized shuffle; part join broadcasts; ranks contiguous per month") {
    val run = Joins.defs.find(_.name == "j28_q47_deviation").get
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = run.run(spark, sf)
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val plan = q.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      // exchange 1 carries the fact flow into (brand, month); the brand
      // and month window exchanges move only the dimension×month frame
      assert(shuffles.size === 3, s"expected 3 hash exchanges, plan:\n$plan")
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"part must broadcast:\n$plan")
      assert(!plan.toString.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    val rows = q.collect()
    assert(rows.nonEmpty)
    // rank() with |dev| desc: 1-based, contiguous up to the ≤3 cut unless
    // ties skip (rank semantics) — pin: min rank is 1 per month and every
    // rank ≤ 3
    rows.groupBy(_.getDate(0)).foreach { case (mon, rs) =>
      assert(rs.map(_.getInt(4)).min === 1, s"$mon missing rank 1")
      assert(rs.forall(_.getInt(4) <= 3))
    }
    // deviations within a brand sum to ~0 across ALL months (integer
    // truncation leaves < 100·nm residue) — checked on the full frame
    val d = Joins.defs.find(_.name == "j28_q47_deviation").get
    val base = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.part(spark, sf),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), trunc(col("l_shipdate"), "month").as("mon"))
      .agg(sum(expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"))
        .as("rev"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("nm"), sum("rev").as("brev"))
      .collect()
    base.foreach { r =>
      val nm = r.getAs[Long]("nm"); val brev = r.getAs[Long]("brev")
      val mean = brev * 100 / nm
      val resid = brev * 100 - mean * nm
      assert(resid >= 0 && resid < nm, s"brand mean residue out of range: $r")
    }
  }
}
