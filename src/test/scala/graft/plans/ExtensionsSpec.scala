package graft.plans

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {

  private def bands(s: SparkSession, n: Int): DataFrame =
    Tables.supplier(s, sf).limit(n).select(
      col("s_suppkey").as("band_id"),
      (col("s_acctbal") * 10).as("lo"),
      (col("s_acctbal") * 10 + 3000).as("hi"))

  private def rangeJoinQuery(s: SparkSession): DataFrame = {
    val points = Tables.lineitem(s, sf).select("l_extendedprice")
    points.join(bands(s, 40),
      col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy("band_id").agg(count(lit(1)).as("n"))
  }

  test("BucketizeRangeJoin rewrites an inequality join into a bucketed equi-join") {
    val baseline = rangeJoinQuery(spark) // un-extended session
    val basePlan = baseline.queryExecution.executedPlan.toString
    assert(basePlan.contains("BroadcastNestedLoopJoin"), s"plan:\n$basePlan")
    val expect = baseline.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ BucketizeRangeJoin
      val rewritten = rangeJoinQuery(spark)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
      assert(plan.contains("__graft_b"), s"plan:\n$plan")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expect, "rewrite changed the result set")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("rule is conservative: equi-joins and non-double conditions pass through untouched") {
    val li = Tables.lineitem(spark, sf)
    val orders = Tables.orders(spark, sf)
    val eq = li.join(orders, col("l_orderkey") === col("o_orderkey"))
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ BucketizeRangeJoin
      assert(!eq.queryExecution.optimizedPlan.toString.contains("__graft_b"))
      // long-typed inequality pair: not the double-interval pattern
      val longIneq = li.select(col("l_partkey"))
        .join(orders.select(col("o_orderkey").as("a"), (col("o_orderkey") + 5).as("b")),
          col("l_partkey") >= col("a") && col("l_partkey") < col("b"))
      assert(!longIneq.queryExecution.optimizedPlan.toString.contains("__graft_b"))
    } finally spark.experimental.extraOptimizations = prev
  }

  test("extensions wiring: GraftExtensions injects the native function library into SQL") {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      // no register() call anywhere — resolution must come from injectFunction
      val r = s2.sql(
        """SELECT cosine_native(cast(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |                     cast(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c""".stripMargin)
        .collect()
      assert(math.abs(r(0).getDouble(0) - 1.0) < 1e-12)
      val mh = s2.sql(
        "SELECT minhash_agg(xxhash64(x), 8) AS sig FROM VALUES ('a'), ('b') AS t(x)")
        .collect()
      assert(mh(0).getAs[scala.collection.Seq[Long]]("sig").length === 8)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("extensions wiring: txlog relations resolve natively in spark.sql, with time travel") {
    val old = spark
    val root = freshRoot("ext-txlog")
    import old.implicits._
    graft.operators.TxLog.init(old, root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    val t1 = System.currentTimeMillis()
    Thread.sleep(30L)
    graft.operators.TxLog.delete(old, root, col("id") === 2L) // v2
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      // plain spark.sql — no TxSql rewrite layer, no temp views
      assert(s2.sql(s"SELECT count(*) AS n FROM txlog.`$root`")
        .head.getLong(0) === 2L)
      // Spark's OWN time-travel syntax, resolved through the manifest
      assert(s2.sql(s"SELECT count(*) AS n FROM txlog.`$root` VERSION AS OF 1")
        .head.getLong(0) === 3L)
      assert(s2.sql(s"SELECT count(*) AS n FROM txlog.`$root` TIMESTAMP AS OF $t1")
        .head.getLong(0) === 3L)
      // two versions join in one native statement
      val both = s2.sql(
        s"""SELECT v1.id FROM txlog.`$root` VERSION AS OF 1 v1
           |LEFT ANTI JOIN txlog.`$root` VERSION AS OF 2 v2 ON v1.id = v2.id
           |""".stripMargin).collect()
      assert(both.map(_.getLong(0)).toSeq === Seq(2L))
      // ordinary relations still resolve (the rule is txlog-scoped) —
      // view created in s2's OWN catalog (sessions don't share temp views)
      s2.sql("CREATE OR REPLACE TEMPORARY VIEW ext_plain AS SELECT 9 AS id")
      assert(s2.sql("SELECT count(*) FROM ext_plain").head.getLong(0) === 1L)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("extensions wiring: a session built with GraftExtensions applies the rule") {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // (spark.sql.extensions is a STATIC conf — honored only at
      // SparkContext creation; on a live context the builder's
      // withExtensions hook is the supported injection point)
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      val plan = rangeJoinQuery(s2).queryExecution.executedPlan.toString
      assert(plan.contains("__graft_b"), s"plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }
}
