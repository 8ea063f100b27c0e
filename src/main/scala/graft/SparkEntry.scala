package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 at the repo root.
  *
  * Every operator family registers its queries as [[QueryDef]]s; this object
  * flattens them into the `queries` / `oracleSql` maps the driver consumes.
  */
object SparkEntry {

  /** All registered operators, grouped by family (SURVEY §2 inventory). */
  def allDefs: Seq[QueryDef] =
    operators.Filters.defs ++
    operators.Aggregates.defs ++
    operators.Windows.defs ++
    operators.Joins.defs ++
    operators.IndexPath.defs ++
    operators.TextAnalysis.defs ++
    operators.Curation.defs ++
    operators.Dedup.defs ++
    operators.SigIndex.defs ++
    operators.Graph.defs ++
    operators.Multimodal.defs ++
    operators.Mp4.defs ++
    operators.Similarity.defs ++
    operators.Pca.defs ++
    Seq(operators.Similarity.nativeDef) ++
    operators.RecallVerdict.defs ++
    operators.HybridSearch.defs ++
    operators.SrpLsh.defs ++
    operators.SqlSurface.defs ++
    operators.Persist.defs ++
    operators.Compaction.defs ++
    operators.SchemaEvolution.defs ++
    operators.Upsert.defs ++
    operators.Rollup.defs ++
    operators.TxLog.defs ++
    operators.Typed.defs ++
    operators.StocksParity.defs ++
    operators.Finance.defs ++
    operators.AsOfJoin.defs ++
    operators.RangeJoin.defs ++
    plans.TopKPerKey.defs ++
    streaming.Streams.defs

  /** Raw-output forms of the approximate tier (ANN top-k dumps, sketch
    * estimate dumps). Their REGISTERED primary names emit oracled
    * engine-independent verdicts instead (recall/error-bound floors), so
    * the driver scoreboard carries zero unoracled rows; these raw plans
    * still run — and stay timed — in Bench and ScalingBench. */
  def benchOnlyDefs: Seq[QueryDef] =
    operators.Aggregates.rawDefs ++
    operators.TextAnalysis.rawDefs ++
    Seq(operators.Similarity.annDef) ++
    operators.SrpLsh.rawDefs ++
    operators.IvfIndex.rawDefs ++
    operators.Quantization.rawDefs

  /** The test tables the benchmark and diagnostic mains read:
    * `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Paths.sf("sf0.1"))

  /** The defs of `defs` named in the comma-separated `names`, in registry
    * order; every def when `names` is None. Each name is trimmed, and a
    * list that names no query or names one `defs` lacks is refused,
    * listing the unknown names, so a typo fails instead of running
    * nothing. */
  def select(names: Option[String],
      defs: Seq[QueryDef] = allDefs ++ benchOnlyDefs): Seq[QueryDef] =
    names.fold(defs) { list =>
      val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want -- defs.map(_.name)
      require(want.nonEmpty, s"no query named in '$list'")
      require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      defs.filter(d => want(d.name))
    }

  /** Runs `d` on the tables at `sfDir` through the `noop` sink, then drops
    * the caches it left behind, and returns the wall seconds. Unlike
    * `count()`, which lets Catalyst prune the work down to row counting,
    * noop executes the complete physical plan and discards the rows. The
    * cache drop (s2 persists lineitem; the dedup pipelines persist
    * shingle and tf frames) makes each run read its own sources. */
  def timeNoop(spark: SparkSession, d: QueryDef, sfDir: String): Double = {
    val t0 = System.nanoTime()
    try d.run(spark, sfDir).write.mode("overwrite").format("noop").save()
    finally spark.catalog.clearCache()
    (System.nanoTime() - t0) / 1e9
  }

  /** Flagship query on the sf0.001 test tables; driver smoke-checks rows>0.
    * TPC-H Q1 shape: scan → grouped partial/final agg → tiny sort. */
  def entry(spark: SparkSession): DataFrame =
    operators.Aggregates.q1TpchStyle(spark, Paths.sf("sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
