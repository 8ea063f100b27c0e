package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-curve harness for the dedup + ANN tier (dev/diagnostic main,
  * not part of the driver contract): replicates the largest available
  * testdata (sf0.1: 5,000 documents / 2,000 embeddings; 600k lineitem) ×1/×2/×4 into
  * parquet corpora and times the REGISTERED queries against each, so the
  * "linear, never quadratic" cost claims are measured on the literal
  * production query bodies at up to 20k docs (≈ sf0.4 — the container's
  * max-available stand-in for the sf1 point).
  *
  * Replicas are word-perturbed (every token suffixed `~r`): cross-replica
  * documents share no shingles, so the OUTPUT (near-dup pairs, clusters,
  * line-dedup survivors) scales linearly with the corpus like a real
  * grown corpus, instead of quadratically through artificial
  * replica-vs-replica duplicates that would conflate output growth with
  * kernel cost. Embedding replicas keep their vectors (cost is
  * data-size-driven, not value-driven); vec_ids shift so ids stay unique.
  *
  * Output: one JSON line per corpus multiple with per-query cold/warm
  * seconds (cold includes any persisted-index build; warm is the steady
  * probe). Committed artifact: BENCH_r5_scaling.json.
  */
object ScalingBench {

  private val Queries = Seq(
    "d1_exact_dedup", "d3_minhash_lsh", "d4b_simhash_hamming",
    "d6_ngram_jaccard", "d8_weighted_jaccard", "d9_line_dedup",
    "d7_dedup_clusters", "d13_substring_dedup", "d14_tfidf_cosine",
    "t11_edit_distance", "t12_keywords", "t13_pmi", "d16_bloom_gate",
    "sim1_cosine_topk", "sim3_ann_ivf_raw", "sim8_knn_join_ivf_raw",
    // round-6 session addition: the PCA gram pass — fixed 2,080-cell
    // output, so its curve isolates the map-side fold of a corpus-sized
    // pair stream (the shuffle is constant-size by design)
    "emb2_gram_matrix")

  /** Fact-table tier: the join/agg/window shapes, timed over replicated
    * lineitem/orders/events (dims stay fixed — at scale, dimensions grow
    * far slower than facts, so the fact:dim ratio growing with the
    * multiple is the realistic direction). Key shifts keep join
    * semantics: each replica's orderkeys (and event users) move to a
    * disjoint range, so per-key group sizes stay flat and output
    * cardinality grows linearly like a really-grown corpus. */
  private val FactQueries = Seq(
    "a5_group_flag_status", "a7_count_distinct", "w8_block_rolling",
    "j2_star_q5", "j5_sortmerge_factfact", "j21_q9_shape", "j23_q2_shape",
    "e8_funnel", "e9_retention", "e10_wau",
    // round-6 additions: the remaining top-cost roster (VERDICT r5's
    // sf1-equivalent ask) — the 32-term EMA window, the mergeable-sketch
    // percentiles, the banded interval join, and the one-shuffle rollup ×
    // window composition. (stk3, the other expensive query, windows the
    // LITERAL 5.6M-row stocks series — replicating it would change the
    // series; its kernel is the same block-carry machinery w8 certifies
    // here.)
    "w12_ema", "a11_approx_percentile_tol", "range1_interval_join",
    "j27_q67_category_share",
    // round-6 session additions: the indicator pack's two shapes (bar
    // build under k× tick density + the pairwise-correlation self-join)
    // and the recursive closure (walk size tracks DISTINCT parts, so its
    // cost should stay near-flat while the revenue aggregate grows)
    "fin1_rsi", "fin3_return_corr", "sql2_recursive_rollup")

  /** Graph tier: the iterative analytics (PageRank sweeps, oriented
    * triangle counting, BFS rounds) over DISJOINT subgraph replicas —
    * every key shifts (orderkeys AND supp/cust node ids), so the graph
    * grows the way a real marketplace graph grows: more nodes and more
    * edges, per-node degrees flat. Replicating only orderkeys (the fact
    * tier's shape) would instead multiply every node's degree by k —
    * legitimate densification, but it conflates output growth (k² wedges,
    * k³ triangle opportunities) with kernel cost; disjoint copies isolate
    * the kernel's scaling. One caveat this tier states rather than hides:
    * g3's BFS seed lives in replica 0, so its traversal never enters the
    * other replicas — the g3 curve certifies that growing the REST of the
    * graph doesn't tax a localized BFS (edge build + frontier-bounded
    * joins), not bulk-traversal scaling. */
  private val GraphQueries = Seq("g1_pagerank", "g1b_pagerank_converged",
    "g2_triangle_count", "g3_bfs_hops")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Paths.sf("sf0.1"))
    val spark = GraftSession.build("graft-scaling-bench")

    def replicate(df: DataFrame, idCol: String, k: Int,
        perturb: Boolean): DataFrame =
      (0 until k).map { r =>
        val shifted = df.withColumn(idCol, col(idCol) + lit(r * 100000000L))
        if (perturb && r > 0)
          shifted.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"$$1~$r"))
        else shifted
      }.reduce(_ unionByName _)

    def ensureCorpus(k: Int): String = {
      val dir = s"${Paths.work}/scaling/x$k"
      val marker = new java.io.File(s"$dir/documents.parquet/_SUCCESS")
      if (!marker.exists()) {
        replicate(sources.Tables.documents(spark, base), "doc_id", k, perturb = true)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        replicate(sources.Tables.embeddings(spark, base), "vec_id", k, perturb = false)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      dir
    }

    /** Fact corpus ×k: orderkeys/users shifted per replica into disjoint
      * ranges, dims copied once. */
    def ensureFactCorpus(k: Int): String = {
      val dir = s"${Paths.work}/scaling/fact-x$k"
      val marker = new java.io.File(s"$dir/lineitem.parquet/_SUCCESS")
      if (!marker.exists()) {
        def shifted(t: DataFrame, keys: Seq[String]): DataFrame =
          (0 until k).map { r =>
            keys.foldLeft(t)((df, c) =>
              df.withColumn(c, col(c) + lit(r * 1000000000L)))
          }.reduce(_ unionByName _)
        shifted(sources.Tables.orders(spark, base), Seq("o_orderkey"))
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        // restore the raw-nanos long `ts` the Tables.events reader derives
        // from (writing the derived TIMESTAMP back would make the reread
        // re-derive `ts div 1000` on a TIMESTAMP and fail analysis)
        shifted(sources.Tables.events(spark, base), Seq("event_id", "user_id"))
          .withColumn("ts", expr("unix_micros(ts) * 1000")).drop("ts_us")
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
          spark.read.parquet(s"$base/$t.parquet")
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
        }
        // the completeness marker (lineitem/_SUCCESS) is written LAST: a
        // crash mid-build leaves an unmarked corpus that rebuilds, never a
        // half corpus accepted forever
        shifted(sources.Tables.lineitem(spark, base), Seq("l_orderkey"))
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      }
      dir
    }

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)

    // replication multiples: default the r5 curve; override per run
    // (SPARK_GRAFT_MULTS=1,4,8,16 for the sf1-equivalent certification)
    val mults = sys.env.get("SPARK_GRAFT_MULTS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 2, 4))
    // dev filter: restrict any tier's roster to a comma-separated subset
    // (the ×32/×64 certification spot-checks the top-cost queries without
    // paying for the full roster at every multiple)
    val onlyQ = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def timeTier(tier: String, roster0: Seq[String], dirFor: Int => String,
        counts: String => String): Unit = {
      val roster = roster0.filter(n => onlyQ.forall(_.contains(n)))
      if (roster.isEmpty) return
      val defs = (SparkEntry.allDefs ++ SparkEntry.benchOnlyDefs)
        .filter(d => roster.contains(d.name))
        .sortBy(d => roster.indexOf(d.name))
      mults.foreach { k =>
        val dir = dirFor(k)
        // SPARK_GRAFT_REPS (default 2 = cold+warm): more reps for
        // dedicated curve adjudications — this host's noisy episodes can
        // inflate any single rep, so outlier re-runs are prescribed
        // min-of-3; "warm" reports the min of the non-cold reps and the
        // analyzer's min(cold, warm) is then the min over all reps
        val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2).max(2)
        val parts = defs.map { d =>
          def once: Double = {
            val t0 = System.nanoTime()
            d.run(spark, dir).write.mode("overwrite").format("noop").save()
            val t = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            t
          }
          val times = (1 to reps).map(_ => once)
          s""""${d.name}":{"cold":${fmt(times.head)},"warm":${fmt(times.tail.min)}}"""
        }
        println(s"""{"tier":"$tier","mult":$k,${counts(dir)},"queries":{${parts.mkString(",")}}}""")
      }
    }

    /** Graph corpus ×k: disjoint subgraph copies — node ids shift WITH
      * the orderkeys (unlike the fact corpus, which keeps dims fixed). */
    def ensureGraphCorpus(k: Int): String = {
      val dir = s"${Paths.work}/scaling/graph-x$k"
      val marker = new java.io.File(s"$dir/lineitem.parquet/_SUCCESS")
      if (!marker.exists()) {
        def shifted(t: DataFrame, keys: Seq[String]): DataFrame =
          (0 until k).map { r =>
            keys.foldLeft(t)((df, c) =>
              df.withColumn(c, col(c) + lit(r * 1000000000L)))
          }.reduce(_ unionByName _)
        shifted(sources.Tables.orders(spark, base), Seq("o_orderkey", "o_custkey"))
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        // marker table last (same crash-consistency argument as the fact corpus)
        shifted(sources.Tables.lineitem(spark, base), Seq("l_orderkey", "l_suppkey"))
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      }
      dir
    }

    // dev filter: comma-separated tier names (unset = all)
    val tiers = sys.env.get("SPARK_GRAFT_TIERS")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set("corpus", "fact", "graph"))
    if (tiers("corpus")) timeTier("corpus", Queries, ensureCorpus, dir => {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
      s""""docs":$nDocs,"vecs":$nVecs"""
    })
    if (tiers("fact")) timeTier("fact", FactQueries, ensureFactCorpus, dir => {
      val nLi = spark.read.parquet(s"$dir/lineitem.parquet").count()
      val nEv = spark.read.parquet(s"$dir/events.parquet").count()
      s""""lineitem":$nLi,"events":$nEv"""
    })
    if (tiers("graph")) timeTier("graph", GraphQueries, ensureGraphCorpus, dir => {
      val nLi = spark.read.parquet(s"$dir/lineitem.parquet").count()
      // g2's own graph census per multiple: the co-supply graph keeps a
      // CONSTANT MinCoOrders edge floor while the data grows, so
      // edges/wedges can legitimately grow superlinearly — emitting
      // n_nodes/n_edges/n_triangles beside the timings separates that
      // data densification from plan behavior when adjudicating the curve
      val g2 = SparkEntry.allDefs.find(_.name == "g2_triangle_count").get
        .run(spark, dir).collect().head
      s""""lineitem":$nLi,"g2_nodes":${g2.getLong(0)},"g2_edges":${g2.getLong(1)},"g2_triangles":${g2.getLong(2)}"""
    })
    spark.stop()
  }
}
