package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixed-point PageRank (g1): structural properties on a constructed
  * graph — the hub out-ranks the periphery, every rank carries at least
  * the teleport mass, and the integer arithmetic is run-deterministic. */
class GraphSpec extends SparkSpec {

  test("pagerank: hub customer outranks leaves; ranks bounded below by teleport; deterministic") {
    import spark.implicits._
    // suppliers 1,2,3 all sell to customer 10 (the hub); supplier 1 also
    // sells to customers 11,12. Orders o (100+c) belong to customer c.
    val dir = freshRoot("graft-g1")
    val sales = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (1L, 12L))
    sales.zipWithIndex.map { case ((s, c), i) => (s, 1000L + i) }
      .toDF("l_suppkey", "l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    sales.zipWithIndex.map { case ((s, c), i) => (1000L + i, c) }
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val run = Graph.defs.find(_.name == "g1_pagerank").get
    val got = run.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // 3 suppliers + 3 customers
    assert(got.length === 6)
    // supplier 1 (packed 2) and customer 10 (packed 21) are both degree-3
    // hubs obeying IDENTICAL rank equations — they tie exactly at the top
    // (integer arithmetic makes the tie exact, not approximate), broken by
    // node id; every leaf ranks strictly below
    assert(got.map(_._1).take(2).toSeq === Seq(2L, 21L))
    assert(got(0)._3 === got(1)._3)
    assert(got.drop(2).forall(_._3 < got(0)._3))
    // every rank carries at least the teleport floor
    assert(got.forall(_._3 >= Graph.PrTeleport))
    // integer arithmetic ⇒ bit-identical re-run
    val again = run.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === again.toSeq)
  }

  test("g1b converges data-dependently before the cap and is rerun-deterministic") {
    // sf0.001: the real (small) marketplace graph — termination must come
    // from the ε rule, not the cap, and the whole verdict row (iteration
    // count + converged rank-state checksums) must be bit-stable across
    // reruns (integer sweeps + deterministic stop rule).
    val run = Graph.defs.find(_.name == "g1b_pagerank_converged").get
    val row = run.run(spark, sf).collect()(0)
    val (nIters, converged) = (row.getInt(0), row.getBoolean(1))
    assert(converged, "did not reach the ε floor")
    assert(nIters > Graph.PrIters && nIters < Graph.PrCap,
      s"expected data-dependent stop strictly inside (PrIters, PrCap), got $nIters")
    val again = run.run(spark, sf).collect()(0)
    assert(row.toSeq === again.toSeq)
  }

  test("triangle count: K4 yields 4, a pendant edge adds none, sub-floor pairs are not edges") {
    import spark.implicits._
    val dir = freshRoot("graft-g2")
    // K4 over suppliers 1-4 (each pair shares MinCoOrders orders), supplier
    // 5 linked to 1 at the floor (edge, no triangle), supplier 6 linked to
    // 1 by a single shared order (below the floor: NOT an edge)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
    var oid = 0L
    val rows = pairs.flatMap { case (a, b) =>
      (1 to Graph.MinCoOrders).flatMap { _ =>
        oid += 1; Seq((oid, a), (oid, b))
      }
    } ++ { oid += 1; Seq((oid, 1L), (oid, 6L)) }
    rows.toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val g2 = Graph.defs.find(_.name == "g2_triangle_count").get.run(spark, dir)
    val got = g2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((5L, 7L, 4L)))
    // plan pin for the r9 scale fix: no broadcast HINT over anything
    // that reads the fact table — rk scales with the fact tier, so the
    // static plan keys the joins (AQE may still elect a broadcast at
    // runtime from MEASURED sizes; that size guard is exactly what a
    // hard-coded hint would bypass). globalOrdinal's offsets travel as
    // a driver-computed literal of ≤ #partitions values, not a join.
    val hintsOverScans = g2.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.child.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
          }.isDefined => h
    }
    assert(hintsOverScans.isEmpty,
      s"g2 reintroduced a broadcast hint over a fact-tier-scale subtree: $hintsOverScans")
  }

  test("g3 BFS: path graph stratifies one node per hop; non-qty-1 edges are excluded") {
    import spark.implicits._
    val dir = freshRoot("graft-g3")
    // path s1 - c10 - s2 - c11 - s3 via quantity-1 lineitems, plus a
    // quantity-5 edge s1 - c99 that must NOT be traversed
    val li = Seq((1L, 1L, 1.0), (2L, 2L, 1.0), (3L, 2L, 1.0), (4L, 3L, 1.0),
      (5L, 1L, 5.0)).map { case (o, s, q) => (o, s, q) }
    li.toDF("l_orderkey", "l_suppkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, 10L), (2L, 10L), (3L, 11L), (4L, 11L), (5L, 99L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Graph.defs.find(_.name == "g3_bfs_hops").get.run(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // packed ids: s1=2, c10=21, s2=4, c11=23, s3=6; c99 (199) unreached
    assert(got.toSeq === Seq((0, 1L, 2L), (1, 1L, 21L), (2, 1L, 4L),
      (3, 1L, 23L), (4, 1L, 6L)))
  }

  test("g4 LPA: two cliques with one bridge resolve to two communities; rerun-deterministic") {
    import spark.implicits._
    // cliques {1,2,3,4} and {10,11,12,13}, bridged 4-10: after 3 sync
    // rounds every clique node carries its clique's min label; the single
    // bridge cannot flip either side (1 vote vs 3)
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L), (10L, 4L))).toDF("src", "dst")
    val got = Graph.lpa(e, Graph.LpaRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) === 1L), s"clique A: $got")
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) === 10L), s"clique B: $got")
    // determinism: a second run yields the identical assignment
    val again = Graph.lpa(e, Graph.LpaRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("g4 LPA: sync update with (count desc, label asc) tiebreak on a 4-cycle") {
    import spark.implicits._
    // cycle 1-2-3-4-1: each node sees exactly two neighbor labels (one
    // vote each), so every round picks the SMALLER neighbor label — a
    // pure tiebreak exercise. Round 1: 1←{2,4}→2, 2←{1,3}→1, 3←{2,4}→2,
    // 4←{1,3}→1. Round 2: 1←{1,1}→1, 2←{2,2}→2, 3←{2,... } wait — the
    // spec asserts the EXECUTED evolution, derived by hand below.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    // hand-run: l0 = {1:1,2:2,3:3,4:4}
    // r1: n(1)={2,4}→2; n(2)={1,3}→1; n(3)={2,4}→2; n(4)={1,3}→1
    // r2: n(1)={1,1}→1; n(2)={2,2}→2; n(3)={1,1}→1; n(4)={2,2}→2
    // r3: n(1)={2,2}→2; n(2)={1,1}→1; n(3)={2,2}→2; n(4)={1,1}→1
    val got = Graph.lpa(e, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L),
      s"sync 4-cycle evolution diverged: $got")
  }

  test("sweepWithPrev lineage: plan doubles per sweep, the every-5 localCheckpoint " +
      "bounds and resets it, and the fused delta matches the separate-join probe") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // 3-node directed cycle with out-degrees — the smallest graph where
    // ranks keep changing for many sweeps is irrelevant here; this test
    // is about PLAN SHAPE, not convergence.
    val ew = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "deg").cache()
    def nPlanNodes(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case p => p }.size
    var r = Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"), lit(Graph.PrUnit).as("r")).localCheckpoint()
    // one sweep from a checkpoint leaf: the linear unit of plan growth
    val base = nPlanNodes(Graph.sweepWithPrev(ew, r))
    var prevRanks = r.collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    var sizes = Vector.empty[Int]
    for (k <- 1 to 12) {
      val prev = r
      val stepped = Graph.sweepWithPrev(ew, prev)
      r = if (k % 5 == 0) stepped.localCheckpoint() else stepped.persist()
      sizes :+= nPlanNodes(r)
      // the fused probe (aggregate over the carried rp) must equal the
      // two-table join probe it replaced — computed here from collected
      // ranks, i.e. an independent evaluation of max |r_k - r_{k-1}|
      val fused = r.agg(coalesce(max(abs(col("r") - col("rp"))), lit(0L)))
        .collect()(0).getLong(0)
      val ranks = r.select("id", "r").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toMap
      assert(ranks.keySet === prevRanks.keySet, s"sweep $k changed the id set")
      val separate = ranks.map { case (id, rv) => math.abs(rv - prevRanks(id)) }.max
      assert(fused === separate, s"sweep $k: fused delta $fused != join delta $separate")
      prevRanks = ranks
      prev.unpersist()
    }
    // prev appears twice per sweep, so the plan roughly doubles within a
    // window: strictly growing between truncation points...
    assert(sizes(1) > sizes(0) && sizes(2) > sizes(1) && sizes(3) > sizes(2),
      s"expected within-window growth, got $sizes")
    // ...and each every-5 localCheckpoint RESETS the depth (k=5 and k=10
    // are leaf-rooted again, smaller than the k-1 plan before them)
    assert(sizes(4) < sizes(3), s"k=5 checkpoint did not truncate: $sizes")
    assert(sizes(9) < sizes(8), s"k=10 checkpoint did not truncate: $sizes")
    // the g1b contract: ≤ 5 doublings between truncations ⇒ ≤ 2^5 leaf
    // copies ⇒ a hard linear ceiling on analyzed-plan size at ANY sweep
    assert(sizes.max <= 32 * base,
      s"lineage exceeded the 2^5-leaf bound: max ${sizes.max}, unit $base")
  }
}
