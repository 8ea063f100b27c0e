package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the star schema — PageRank as the
  * flagship of the "fixed rounds of keyed joins" computation class (the
  * weighted sibling of d7's connected components; the reference has no
  * graphs at all, but a training-data pipeline ranks pages/domains by
  * link centrality before sampling).
  *
  * Graph: the supplier↔customer bipartite graph induced by lineitem ⋈
  * orders (who supplied whom), with edges in BOTH directions so rank
  * circulates (one-way bipartite rank collapses to the teleport constant
  * in one step). Node ids pack type+key into one BIGINT (2·key for
  * suppliers, 2·key+1 for customers) so the rank state is a single
  * (id, rank) table.
  *
  * FIXED-POINT arithmetic is what makes this ORACLED, not approximate:
  * ranks live in integer micro-units (1e6 = rank 1.0), each iteration is
  *   rank'(v) = 150000 + (85 · Σ_{u→v} (rank(u) div outdeg(u))) div 100
  * — integer division and integer sums only, so the result is exactly
  * reproducible in any engine regardless of float summation order (the
  * d14 trick applied to iteration). Floating-point PageRank could only
  * be tolerance-checked; integer PageRank hash-matches.
  *
  * Scale shape: the edge list (with out-degrees) is built ONCE, cached,
  * and partitioned by src; each of the PrIters rounds is one keyed join
  * (ranks are n rows, edges m rows — never materialized beyond m) plus
  * one groupBy(dst) with map-side partial sums. No driver-side state, no
  * adjacency matrix, no n² anything; 5 rounds = 5 shuffles of n rows.
  * The final top-100 is a TakeOrdered, not a global sort.
  */
object Graph {

  /** Iteration count + damping in micro-units (declared before `defs`:
    * the oracle SQL interpolates them at object-init time). */
  val PrIters = 5
  val PrUnit = 1000000L   // rank 1.0
  val PrTeleport = 150000L // (1 - 0.85) · PrUnit

  /** g2 edge strength floor: suppliers are co-supply-linked only if they
    * share at least this many distinct orders (declared before `defs`).
    * One shared order is noise on a dense marketplace; the floor is what
    * keeps the projected graph sparse as order volume grows (on this
    * synthetic data the graph is complete below sf0.1 regardless — the
    * oracle certifies the count either way). */
  val MinCoOrders = 5

  /** g3 BFS knobs (declared before `defs` — interpolated into the oracle
    * SQL): round count and the source node (supplier 1 in the packed
    * 2·key id space). */
  val BfsHops = 4
  val BfsSource = 2L

  /** g4 synchronous label-propagation rounds (declared before `defs` —
    * interpolated into the unrolled oracle SQL). */
  val LpaRounds = 3

  /** g1b convergence knobs (declared before `defs` — interpolated into
    * the oracle SQL): stop when the max per-node rank change of a sweep
    * drops to ≤ PrEps micro-units (4.0 rank units — integer PageRank's
    * max-delta contracts at exactly the damping factor per sweep, so this
    * lands at different data-dependent iteration counts per corpus: 8 at
    * sf0.001, 9 at sf0.01), with PrCap as the hard bound that also sizes
    * the oracle's unroll. */
  val PrEps = 4000000L
  val PrCap = 20

  /** Symmetrize a directed bipartite pair set in ONE pass: explode each
    * (src, dst) row into both directions instead of `union(e0, e0.swap)`
    * — an uncached union evaluates the (join + distinct) subtree once per
    * branch (guide §2.4; stage-profiled on g1 at sf0.1). The output is a
    * SET whenever `e0` is distinct: the branches cannot collide because
    * packed ids give src even parity and dst odd. */
  private def symmetrize(e0: DataFrame): DataFrame =
    e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** One PageRank sweep: contributions along edges, damped update.
    * `ew` = (src, dst, deg) cached edge list; `r` = (id, r) ranks. */
  private def sweep(ew: DataFrame, nodes: DataFrame, r: DataFrame): DataFrame = {
    val contrib = ew.join(r, ew("src") === r("id"))
      .groupBy(ew("dst").as("cid")).agg(sum(expr("r div deg")).as("s"))
    nodes.join(contrib, nodes("id") === contrib("cid"), "left")
      .select(nodes("id"),
        expr(s"CAST($PrTeleport + (85 * coalesce(s, 0)) div 100 AS BIGINT)").as("r"))
  }

  /** [[sweep]] with the PREVIOUS rank carried through as `rp` — the g1b
    * convergence loop's form. The update's left side is `prev` itself
    * instead of `nodes` (identical id set: every sweep emits exactly one
    * row per node, and r0 is built from `nodes`), so the per-sweep
    * max-delta needs NO second join of two rank tables: the delta
    * aggregate over (r, rp) IS the action that materializes the sweep —
    * one job per sweep instead of two (r17 session 3; stage-profiled:
    * the separate delta join cost a full extra pass + join over the
    * persisted ranks per sweep, ~2 extra stages and one extra job each).
    *
    * LINEAGE-DEPTH HAZARD (the reason this was reverted once): `prev`
    * appears TWICE here (contribution join + rp carry), so the logical
    * plan DOUBLES per sweep — 2^j leaf copies after j sweeps since the
    * last truncation. The g1b loop's every-5-sweeps localCheckpoint
    * bounds j ≤ 5 (≤ 32 leaf copies, linear analysis cost); without it
    * the unbounded doubling OOMs Catalyst near depth 10-12.
    * GraphSpec's "sweepWithPrev lineage" test pins both the bound and
    * the reset. Test-visible for exactly that spec. */
  private[graft] def sweepWithPrev(ew: DataFrame, prev: DataFrame): DataFrame = {
    val contrib = ew.join(prev, ew("src") === prev("id"))
      .groupBy(ew("dst").as("cid")).agg(sum(expr("r div deg")).as("s"))
    val p = prev.select(col("id"), col("r").as("rp"))
    p.join(contrib, p("id") === contrib("cid"), "left")
      .select(p("id"),
        expr(s"CAST($PrTeleport + (85 * coalesce(s, 0)) div 100 AS BIGINT)").as("r"),
        p("rp"))
  }

  /** The supplier↔customer PageRank graph: (src, dst, deg) edge list with
    * out-degrees, plus the node set — built once, cached (shared by g1
    * and g1b).
    *
    * r17 optimization (guide §2.3/§2.4, stage-profiled): the former
    * `e0.union(e0.swap)` + `groupBy(src)` + `join(outd)` build evaluated
    * the lineitem⋈orders+distinct subtree once per union branch AND once
    * more per branch under the out-degree aggregate (column pruning gives
    * the two consumers different canonical scans, so exchange reuse never
    * fires — 4 evaluations, ~2.2 s of the 5.1 s stage total at sf0.1).
    * Now: both edge directions come from ONE pass over the distinct pair
    * set (explode of a 2-struct array), and the out-degree is a window
    * count over the SAME exchange that lays the edge table out by `src` —
    * one subtree evaluation, two exchanges total in the build.
    *
    * The explicit Par.spread partitioning is also what the SWEEPS reuse:
    * the cached edge table comes out hash-partitioned by `src` and
    * sorted within partitions (WindowExec's required sort), so each
    * per-iteration join consumes it with NO re-exchange and NO re-sort —
    * previously every sweep paid Exchange+Sort over the full edge table
    * (guide §2.4 "two operations keyed the same way share one
    * exchange"). Per-sweep shuffle work drops to the rank-table side
    * (n rows) plus the contribution aggregation (the one shuffle a
    * PageRank sweep fundamentally requires). */
  private def prGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e0 = Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
      .distinct()
    // plain keyed repartition, NOT Par.spread: the per-sweep work is
    // bytes-bound integer arithmetic (no expensive per-row kernel), so the
    // exchange should stay AQE-COALESCABLE — partition count then tracks
    // the measured edge bytes (advisory size) instead of a pinned
    // 2×cores, which at sf0.1 over-partitioned a 7.7 MB edge table into
    // 64 micro-tasks per sweep and defeated map-side partial aggregation
    // (64 × |nodes| partial rows shuffled per sweep instead of ~|nodes|).
    // At 100 TB the same rule yields thousands of partitions — the
    // scale-adaptive sizing the optimization brief asks for.
    // localCheckpoint, NOT cache (r18): both frames are re-referenced
    // once or twice per sweep, and a CACHED frame's ANALYZED plan still
    // carries its full lineage — at 2^j references between g1b's
    // truncation points that is up to 31 inlined copies of the
    // scan⋈orders+distinct+window tree per sweep, ~3 s of driver-side
    // Catalyst analysis at sf0.1 (wall 7.9 s vs stage-sum 4.7 s).
    // A localCheckpoint leaf (LogicalRDD) keeps the hash(src)
    // partitioning and sort (Dataset.localCheckpoint preserves
    // outputPartitioning/outputOrdering), so sweeps still consume it
    // with no re-exchange — but every re-reference is a LEAF, and
    // per-sweep analysis cost stops scaling with the build lineage.
    val ew = symmetrize(e0).repartition(col("src"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .localCheckpoint()
    val nodes = ew.select(col("src").as("id")).distinct().localCheckpoint()
    (ew, nodes)
  }

  /** The shared oracle-SQL prefix: graph CTEs + r0..r`iters` unrolled
    * integer sweeps (bit-for-bit the arithmetic [[sweep]] runs). The
    * sweep CTEs are AS MATERIALIZED: each r_k is referenced several times
    * (the next sweep, the delta probe, the all-iterations union), and
    * DuckDB's default CTE inlining would re-derive the whole chain at
    * every reference — exponential in the unroll depth. Materialization
    * pins linear evaluation (measured: g1b's 20-sweep oracle goes from
    * >10 min to <1 s at sf0.01). */
  private def prOracleCtes(iters: Int): String = {
    val sweeps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT n.id,
         |        CAST($PrTeleport + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |        FROM nodes n LEFT JOIN (
         |          SELECT e.dst AS id, sum(r.r // d.deg) AS s
         |          FROM edges e JOIN r${k - 1} r ON e.src = r.id
         |                       JOIN outd d ON e.src = d.src
         |          GROUP BY e.dst) c ON n.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
      |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT src, dst FROM e0
      |          UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |r0 AS MATERIALIZED (SELECT id, CAST($PrUnit AS BIGINT) AS r FROM nodes),
      |$sweeps""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // G1: 5-iteration fixed-point PageRank over supplier↔customer.
    // The oracle unrolls the same five integer sweeps as chained CTEs —
    // bit-for-bit the same arithmetic, independently executed.
    QueryDef("g1_pagerank",
      s"""${prOracleCtes(PrIters)}
        |SELECT id AS node_id,
        |       CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_type,
        |       r AS pr
        |FROM r$PrIters ORDER BY pr DESC, node_id LIMIT 100""".stripMargin) { (s, dir) =>
      // static per-iteration state, built once: edge list decorated with
      // the source out-degree (so a sweep is ONE join), plus the node set
      val (ew, nodes) = prGraph(s, dir)
      var r = nodes.select(col("id"), lit(PrUnit).as("r"))
      for (_ <- 1 to PrIters) r = sweep(ew, nodes, r)
      r.select(col("id").as("node_id"),
          when(col("id") % 2 === 0, "supplier").otherwise("customer").as("node_type"),
          col("r").as("pr"))
        .orderBy(col("pr").desc, col("node_id")).limit(100)
    },

    // G1B: PageRank run to CONVERGENCE — iterate until the max per-node
    // rank change of a sweep drops to ≤ PrEps, bounded by PrCap. This is
    // the data-dependent-termination form g1's fixed 5 sweeps stands in
    // for: per sweep the driver sees ONE aggregated long (the max delta —
    // bounded driver state), each sweep's result persists (and the
    // superseded one frees), with a localCheckpoint every 5 sweeps
    // (the d7 lineage-truncation discipline: without it the plan for
    // sweep k nests k copies of the join tree and analysis cost, not
    // data, becomes the bottleneck).
    //
    // FULLY oracled, not a constant-verdict: DuckDB unrolls the same
    // integer sweeps to PrCap, derives every per-sweep max-delta, picks
    // the SAME stop iteration from the same ε rule, and emits the flag +
    // iteration count + full-rank-state checksums at that iteration — so
    // the hash match certifies the dynamic termination decision itself,
    // plus the converged rank vector, in exact integers.
    QueryDef("g1b_pagerank_converged", {
      val deltas = (1 to PrCap).map { k =>
        s"SELECT $k AS k, (SELECT max(abs(a.r - b.r)) FROM r$k a JOIN r${k - 1} b ON a.id = b.id) AS d"
      }.mkString("\n  UNION ALL ")
      val allr = (1 to PrCap).map(k => s"SELECT $k AS k, id, r FROM r$k")
        .mkString("\n  UNION ALL ")
      s"""${prOracleCtes(PrCap)},
        |deltas AS ($deltas),
        |stop AS (SELECT CAST(coalesce(min(CASE WHEN d <= $PrEps THEN k END), $PrCap) AS INT) AS k,
        |                bool_or(d <= $PrEps) AS converged
        |         FROM deltas),
        |allr AS ($allr),
        |final AS (SELECT id, r FROM allr JOIN stop ON allr.k = stop.k)
        |SELECT stop.k AS n_iters, stop.converged AS converged,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(id * r) % 1000000000000000000 AS BIGINT) AS rank_ck,
        |       CAST(sum(r) AS BIGINT) AS sum_r
        |FROM final, stop GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      val (ew, nodes) = prGraph(s, dir)
      var r = nodes.select(col("id"), lit(PrUnit).as("r")).localCheckpoint()
      var k = 0
      var delta = Long.MaxValue
      while (k < PrCap && delta > PrEps) {
        val prev = r
        // lineage truncates via localCheckpoint every 5th sweep (the d7
        // discipline); between truncation points plain persist carries
        // the state — unlike a checkpoint its blocks FREE when
        // superseded (prev.unpersist below), so ~two rank tables plus
        // the periodic checkpoints stay materialized, not one per sweep
        val stepped = sweepWithPrev(ew, prev)
        r = if ((k + 1) % 5 == 0) stepped.localCheckpoint() else stepped.persist()
        // ONE job per sweep: the sweep output carries the previous rank
        // as `rp`, so the max-delta aggregate over it is both the
        // convergence probe and the action that materializes r (coalesce:
        // an EMPTY graph's max-over-nothing is NULL, which must read as
        // converged, not NPE). Releasing prev right after is safe (a
        // later eviction recomputes from the nearest checkpoint).
        delta = r.agg(coalesce(max(abs(col("r") - col("rp"))), lit(0L)))
          .collect()(0).getLong(0)
        prev.unpersist()
        k += 1
      }
      // checksum through DECIMAL(38) + a 1e18 modulus: id·r is ~1.2e17
      // per node once node ids carry replica offsets (the scaling
      // corpora shift keys by r·1e9), so a raw BIGINT sum overflows —
      // caught by the x4 graph-tier run. DuckDB's sum is HUGEINT, so the
      // twin change there is just the same modulus.
      //
      // Empty-graph parity with the oracle: DuckDB's grouped final
      // aggregate over zero nodes yields NO rows, so the Spark side's
      // summary row is filtered out when the graph is empty rather than
      // presenting a converged-over-nothing verdict the oracle never
      // emits.
      r.agg(count(lit(1)).cast("long").as("n_nodes"),
          expr("CAST(sum(CAST(id AS DECIMAL(38,0)) * r) % 1000000000000000000 AS BIGINT)")
            .as("rank_ck"),
          sum("r").cast("long").as("sum_r"))
        .select(lit(k).as("n_iters"), lit(delta <= PrEps).as("converged"),
          col("n_nodes"), col("rank_ck"), col("sum_r"))
        .filter(col("n_nodes") > 0)
    },

    // G2: triangle counting over the supplier CO-SUPPLY graph (suppliers
    // sharing at least one order) — the canonical graph-motif query.
    // The Spark side counts via DEGREE-ORDERED orientation: nodes get a
    // total rank by (degree, id), every edge stores (rank_lo, rank_hi),
    // and each triangle is found EXACTLY once as a wedge at its
    // minimum-rank node closed by a semi-join — the classic bound that
    // makes wedge fan-out Σ outdeg² track the graph's arboricity instead
    // of raw degree² (a celebrity node stops being a wedge pivot). The
    // oracle counts naively (a<b<c over the undirected edge list) — an
    // INDEPENDENT implementation certifying the oriented count.
    //
    // Scale shape: per-order supplier pairs are bounded by order width
    // (≤ a few lines per order — never corpus-quadratic); the node-rank
    // table scales with the fact tier, so edge decoration is two KEYED
    // equi-joins on the node id (never a broadcast of a node-scale
    // table); wedge generation and closure are keyed equi-joins on rank
    // pairs.
    QueryDef("g2_triangle_count",
      s"""WITH co AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b
        |            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |            WHERE a.l_suppkey < b.l_suppkey
        |            GROUP BY 1, 2
        |            HAVING count(DISTINCT a.l_orderkey) >= $MinCoOrders),
        |nod AS (SELECT count(DISTINCT s) AS n FROM
        |          (SELECT a AS s FROM co UNION SELECT b AS s FROM co)),
        |tri AS (SELECT count(*) AS n FROM co e1
        |        JOIN co e2 ON e1.b = e2.a
        |        JOIN co e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT CAST(nod.n AS BIGINT) AS n_nodes,
        |       CAST((SELECT count(*) FROM co) AS BIGINT) AS n_edges,
        |       CAST(tri.n AS BIGINT) AS n_triangles
        |FROM nod, tri""".stripMargin) { (s, dir) =>
      // spread the projected fact on the self-join key: the pair
      // generation (≈order-width² fan-out + countDistinct partial) ran on
      // the scan's 3 file splits (stage-profiled 1.19 s / 3 tasks at
      // sf0.1 — guide §2.5 scan-split serialization), and the explicit
      // hash(l_orderkey) exchange is shared by BOTH self-join branches
      // (ReuseExchange) while satisfying the join's distribution
      val li = Par.spread(
        Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("l_orderkey"))
      val co = li.select(col("l_orderkey"), col("l_suppkey").as("a"))
        .join(li.select(col("l_orderkey"), col("l_suppkey").as("b")), "l_orderkey")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(countDistinct("l_orderkey").as("w"))
        .filter(col("w") >= MinCoOrders)
        .select("a", "b").cache()
      val deg = co.select(col("a").as("s")).union(co.select(col("b").as("s")))
        .groupBy("s").agg(count(lit(1)).as("deg"))
      // node rank WITHOUT a single-partition window: the node set is the
      // supplier co-supply graph and suppliers scale with the fact tier,
      // so the degree-order rank goes through Windows.globalOrdinal
      // (range-partition + per-partition position + offset fold) —
      // same dense rank, full parallelism at any node count
      val rk = Windows.globalOrdinal(deg, Seq(col("deg"), col("s")))
        .withColumn("rk", col("__ord") + 1L)
        .select("s", "rk")
      // Keyed (shuffle) joins, NOT broadcast: rk is the co-supply node
      // set, which grows with the fact tier — broadcasting it ships a
      // node-scale table to every task at 100×. Two hash-partitioned
      // equi-joins on the node id keep every stage partition-local;
      // AQE may still elect a broadcast at runtime when the measured
      // size is genuinely small — that IS the size guard.
      val e = co
        .join(rk.withColumnRenamed("s", "a").withColumnRenamed("rk", "ra"), "a")
        .join(rk.withColumnRenamed("s", "b").withColumnRenamed("rk", "rb"), "b")
        .select(least(col("ra"), col("rb")).as("lo"),
          greatest(col("ra"), col("rb")).as("hi"))
        .cache() // consumed three times: wedges (both sides) + closure
      val wedges = e.select(col("lo"), col("hi").as("h1"))
        .join(e.select(col("lo"), col("hi").as("h2")), Seq("lo"))
        .filter(col("h1") < col("h2"))
      val tri = wedges
        .join(e.select(col("lo").as("h1"), col("hi").as("h2")), Seq("h1", "h2"),
          "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      rk.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_triangles")
    },

    // G3: breadth-first search — exact hop distance from a source node
    // over the SPARSE co-supply graph (quantity-1 lineitems only: 1,146
    // edges over ~1,600 nodes at sf0.01, so hops actually stratify; the
    // dense full graph reaches everything in 2). Frontier iteration:
    // each of BfsHops rounds is ONE keyed join of the frontier against
    // the edge list plus an anti-join against the visited set — per-round
    // data touched is O(frontier·degree), never the whole graph, and
    // there is no driver-side adjacency. The oracle unrolls the same
    // rounds as chained CTEs (set semantics, no arithmetic at all, so
    // nothing can diverge). Output is the per-hop census: node count +
    // id checksum.
    QueryDef("g3_bfs_hops", {
      val rounds = (1 to BfsHops).map { k =>
        s"""h$k AS (SELECT DISTINCT e.dst AS id FROM edges e
           |        JOIN h${k - 1} f ON e.src = f.id
           |        WHERE e.dst NOT IN (SELECT id FROM v${k - 1})),
           |v$k AS (SELECT * FROM v${k - 1}
           |        UNION ALL SELECT id, $k AS hop FROM h$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |            WHERE l_quantity = 1),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        |h0 AS (SELECT CAST($BfsSource AS BIGINT) AS id),
        |v0 AS (SELECT id, 0 AS hop FROM h0),
        |$rounds
        |SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(id) AS BIGINT) AS id_ck
        |FROM v$BfsHops GROUP BY 1 ORDER BY hop""".stripMargin
    }) { (s, dir) =>
      val e0 = Tables.lineitem(s, dir).filter(col("l_quantity") === 1)
        .select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
        .distinct()
      // symmetrize in one pass (already a set — parity-disjoint branches
      // over a distinct pair set; the former union+distinct re-derived
      // the join subtree per branch and re-deduped 2m rows)
      // localCheckpoint per round, NOT cache-and-union accumulation
      // (r18): the former `visited = visited.union(next).cache()` pinned
      // a FRESH cached copy of the whole union every round — cached
      // partition counts grew 32, 64, 96, 128, 160 over the hops (a
      // union of cached frames sums their pinned partitions, and AQE
      // cannot coalesce InMemoryRelation reads), so the final job ran
      // five near-empty wide stages of pure task overhead, plus
      // re-analysis of the nested union plans (wall 3.3 s vs stage-sum
      // 1.8 s at sf0.1). Now each round's frontier materializes once as
      // a LogicalRDD leaf (one small eager job per hop — BFS is
      // inherently round-synchronous anyway), `visited` is a lazy union
      // of those leaves, and every per-round exchange is AQE-sized from
      // actual bytes — scale-adaptive at 100 TB, 2 tasks at sf0.1.
      val edges = symmetrize(e0).localCheckpoint()
      val v0 = s.range(1).select(lit(BfsSource).cast("long").as("id"),
        lit(0).as("hop")).localCheckpoint()
      var rounds = Vector(v0)
      var frontier = v0.select("id")
      for (k <- 1 to BfsHops) {
        val visited = rounds.map(_.select("id")).reduce(_.union(_))
        val next = edges.join(frontier.withColumnRenamed("id", "fid"),
            col("src") === col("fid"))
          .select(col("dst").as("id")).distinct()
          .join(visited, Seq("id"), "left_anti")
          .withColumn("hop", lit(k)).localCheckpoint()
        rounds :+= next
        frontier = next.select("id")
      }
      rounds.reduce(_.union(_)).groupBy("hop")
        .agg(count(lit(1)).as("n_nodes"), sum("id").as("id_ck"))
        .orderBy("hop")
    },

    // G4: community detection via DETERMINISTIC synchronous label
    // propagation (LPA) over g3's sparse subgraph. Classic LPA is
    // notoriously nondeterministic (random tie-breaks, async order);
    // this variant is exactly reproducible: all nodes update together
    // each round, the new label is the most frequent neighbor label
    // with ties broken (count DESC, label ASC) — a total order per
    // node — so the whole evolution, and therefore the final community
    // structure, hash-matches any engine (the g1 determinism discipline
    // applied to a frequency argmax instead of a sum). Output is the
    // community SIZE DISTRIBUTION (one row per distinct size, with a
    // label checksum): bounded rows certifying every community's size
    // and membership-sum without dumping n rows.
    //
    // Scale shape: per round ONE keyed join (edges ⋈ labels, m rows) +
    // one (node, label) count with map-side combine + one per-node
    // top-1 window over the counted frame (rows ≤ m). Labels
    // localCheckpoint each round — the d7/g1b lineage-truncation
    // discipline. LpaRounds fixed (3) keeps the oracle unrollable.
    QueryDef("g4_label_propagation", {
      val rounds = (1 to LpaRounds).map { k =>
        s"""c$k AS (SELECT e.dst AS id, l.lbl, count(*) AS cnt
           |        FROM edges e JOIN l${k - 1} l ON e.src = l.id
           |        GROUP BY e.dst, l.lbl),
           |l$k AS (SELECT id, lbl FROM (
           |          SELECT id, lbl, row_number() OVER (
           |            PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn
           |          FROM c$k) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |            WHERE l_quantity = 1),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
        |$rounds,
        |g AS (SELECT lbl, count(*) AS sz FROM l$LpaRounds GROUP BY lbl)
        |SELECT CAST(sz AS BIGINT) AS sz, CAST(count(*) AS BIGINT) AS n_comms,
        |       CAST(sum(lbl) AS BIGINT) AS lbl_ck
        |FROM g GROUP BY sz ORDER BY sz""".stripMargin
    }) { (s, dir) =>
      val e0 = Tables.lineitem(s, dir).filter(col("l_quantity") === 1)
        .select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
        .distinct()
      // localCheckpoint: referenced once per LPA round-job (lpa
      // checkpoints each round), so a leaf beats re-analyzing the
      // scan⋈scan+distinct+explode tree per round — the prGraph/g3 rule
      val edges = symmetrize(e0).localCheckpoint() // one pass; set by parity
      lpa(edges, LpaRounds).groupBy("lbl").agg(count(lit(1)).as("sz"))
        .groupBy("sz")
        .agg(count(lit(1)).as("n_comms"), sum("lbl").as("lbl_ck"))
        .orderBy("sz")
    }
  )

  /** The g4 kernel: `rounds` synchronous label-propagation sweeps over a
    * symmetric (src, dst) edge frame; returns the final (id, lbl)
    * assignment. Deterministic by construction — ties break (count DESC,
    * label ASC). Exposed for GraphSpec's constructed-graph tests. */
  def lpa(edges: DataFrame, rounds: Int): DataFrame = {
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).localCheckpoint()
    val top1 = Window.partitionBy("id").orderBy(col("cnt").desc, col("lbl").asc)
    for (_ <- 1 to rounds) {
      labels = edges.join(labels.withColumnRenamed("id", "lid"),
          col("src") === col("lid"))
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(top1))
        .filter(col("rn") === 1)
        .select("id", "lbl")
        .localCheckpoint()
    }
    labels
  }
}
