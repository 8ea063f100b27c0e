package graft

/** Benchmark harness (replaces the reference's chrono/cudaEvent timing at
  * stockify.cu:214-246). Runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is fully materialized through the `noop` sink — unlike
  * `.count()`, which lets Catalyst prune the work down to row counting,
  * noop executes the complete physical plan and discards rows, so the
  * timing covers scan + shuffle + compute exactly as a real write would.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Paths.sf("sf0.1"))
    val cpus = GraftSession.cpus
    val spark = GraftSession.build("graft-bench", cpus)

    // Warm the JVM + file-listing caches once (JIT, codegen compiler, parquet
    // footers) so per-query numbers measure the queries, not session startup.
    SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()

    // Pre-compile EVERY query's generated code against the smallest scale
    // factor: janino's class cache is keyed by generated source, so this
    // one cheap pass (6k-row tables) absorbs the first-run codegen compile
    // + JIT cost of the heavy pipelines, and the timed sf pass below
    // measures steady-state execution — what a long-running cluster does —
    // instead of compilation. Skipped when already benching the smallest sf.
    // Dev aid: SPARK_GRAFT_ONLY=q1,q2 benches a subset in isolation
    // (diagnosing one query's time without the rest of the suite's JVM).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val defs = (SparkEntry.allDefs ++ SparkEntry.benchOnlyDefs)
      .filter(d => only.forall(_.contains(d.name)))

    // HOST-HEALTH CANARY: a fixed, data-free, codegen'd workload whose
    // wall time depends only on the host's available CPU — measured at
    // suite start and end so a contended host SELF-REPORTS in the JSON
    // line instead of costing a manual drift adjudication. Reading rule
    // (documented in DIAG): canary_sec > ~1.5x its committed value in a
    // clean-run artifact → treat every exceedance/drifter in this line
    // as suspect and re-run on a quiet host before adjudicating.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000000L, 1L, cpus)
        .selectExpr("sum((id * 31) % 1000003) AS s") // ANSI-safe: no overflow
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce() // JIT warm; discarded
    val canaryStart = (1 to 3).map(_ => canaryOnce()).min

    val warmDir = Paths.sf("sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      defs.foreach { d =>
        try d.run(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    }

    // Drift-gate self-test hook: SPARK_GRAFT_INJECT_SLOW="name:sec"
    // sleeps inside the named query's timing, so one run can prove the
    // drifter/budget alarms still trip on a real slowdown (the alarms
    // must never be tuned so defensively that an injected 2x sails by).
    val injectSlow: Map[String, Double] = sys.env.get("SPARK_GRAFT_INJECT_SLOW")
      .map(_.split(",").flatMap(_.split(":") match {
        case Array(n, s) => Some(n -> s.toDouble)
        case _ => None
      }).toMap).getOrElse(Map.empty)

    def timeOnce(d: QueryDef): (Double, Boolean) = {
      val t0 = System.nanoTime()
      injectSlow.get(d.name).foreach(s => Thread.sleep((s * 1000).toLong))
      val ok =
        try { d.run(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${d.name} failed: ${e.getMessage}")
            false
        }
      // drop caches a query left behind (s2 persists lineitem; the dedup
      // pipelines persist shingle/tf frames) so each timing reads its own
      // sources — without this, every query after s2 scans the in-memory
      // mirror and the i2/i5 layout comparison stops measuring layouts
      spark.catalog.clearCache()
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    // Per-query regression gate: the prior round's per-query times live in
    // BENCH_BASELINE.json (flat {"name": sec}, refreshed each round by
    // scripts/make_bench_baseline.py). A query's budget is 1.5x its
    // baseline with a 0.5 s absolute floor (sub-second queries jitter by
    // more than 50% on this box without meaning anything). Drift
    // adjudication moves from narrative into the harness: the JSON line
    // carries budget_exceeded with every query still over budget after
    // the steady-state retries below.
    def loadFlat(path: String): Map[String, Double] = {
      val f = new java.io.File(path)
      if (!f.isFile) Map.empty
      else {
        val src = scala.io.Source.fromFile(f)
        try {
          val re = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9][0-9.]*)""".r
          re.findAllMatchIn(src.mkString).map(m => m.group(1) -> m.group(2).toDouble).toMap
        } finally src.close()
      }
    }
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json")
    val baseline: Map[String, Double] = loadFlat(baselinePath)
    // Frozen cross-round anchor (committed once, never regenerated): the
    // per-round BENCH_BASELINE refresh is individually justified but
    // could compound drift invisibly; the anchor ratio makes total drift
    // vs the frozen round-8 steady state visible in every bench line.
    // REPORT-ONLY — the budget gate stays on the per-round baseline.
    val anchor: Map[String, Double] = loadFlat("BENCH_ANCHOR.json")
    val budgetTol = 1.5
    val budgetFloorSec = 0.5
    // This VM has multi-minute noisy episodes (host contention) that can
    // inflate whichever query they land on by 10-60x. A query whose run
    // looks slow — over its regression budget, or over 5 s when it has no
    // baseline — gets up to TWO re-runs and reports the min (steady
    // state). Bounded extra cost, targeted exactly at the noise victims;
    // fast in-budget queries (the overwhelming majority) stay single-pass.
    val retryAboveSec = 5.0
    def budgetOf(name: String): Option[Double] =
      baseline.get(name).map(b => math.max(b * budgetTol, budgetFloorSec))
    def overBudget(name: String, t: Double): Boolean =
      budgetOf(name).fold(t > retryAboveSec)(t > _)
    val results0 = defs.map { d =>
      val (t1, ok1) = timeOnce(d)
      var t = t1
      var ok = ok1
      var reps = 1
      // a retry only counts toward the min when it SUCCEEDED — a crashed
      // re-run's short time-to-failure must not masquerade as a fast run
      // (and a query that crashes on re-run is flaky: demote to failed)
      while (ok && overBudget(d.name, t) && reps < 3) {
        val (t2, ok2) = timeOnce(d)
        if (ok2) t = math.min(t, t2) else ok = false
        reps += 1
      }
      (d.name, t, ok)
    }
    // DEFERRED SELF-HEAL PASS: a contention wave inflates whichever query
    // it lands on AND that query's immediate retries, so in-place min-of-3
    // can't save a victim of a multi-minute wave. Queries still over
    // budget after the whole suite get ONE more run here — by now the
    // wave has usually passed — and any exceedance that SURVIVES carries
    // a canary measured at its final timing, so the artifact line
    // self-adjudicates per exceedance (elevated canary → host, healthy
    // canary → code) instead of costing a manual drift investigation.
    // An anchor-DRIFTER candidate earns the same deferred re-run as a
    // budget exceedance: a wave victim can sit 1.4x over its frozen
    // anchor while comfortably inside its (refreshed) budget, so without
    // this the drifter list reported ambient noise the in-place retries
    // never got a chance to heal — and a reader had to adjudicate it by
    // hand. Emission happens on the post-heal min, so a drifter that
    // SURVIVES the re-run is signal.
    def drifting(name: String, t: Double): Boolean =
      anchor.get(name).exists(a => t / a > 1.25 && t - a > 0.3)
    val results = results0.map { case (name, t0, ok0) =>
      if (!ok0 || !(overBudget(name, t0) || drifting(name, t0)))
        (name, t0, ok0, budgetOf(name), -1.0)
      else {
        val d = defs.find(_.name == name).get
        val (t2, ok2) = timeOnce(d)
        val ok = ok0 && ok2
        val t = if (ok2) math.min(t0, t2) else t0
        val canary = if (ok && (overBudget(name, t) || drifting(name, t)))
          canaryOnce() else -1.0
        (name, t, ok, budgetOf(name), canary)
      }
    }

    // Locale-pinned formatting: JVM-default locales with comma decimals
    // would otherwise emit invalid JSON.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // Failed queries report -1 and are excluded from the total, so the
    // driver gets a machine-readable failure signal instead of a
    // time-to-crash silently inflating the metric.
    val qs = results
      .map { case (k, v, ok, _, _) => "\"" + k + "\":" + (if (ok) fmt(v) else "-1") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val exceeded = results
      .collect { case (k, v, true, Some(b), can) if v > b =>
        s"""{"q":"$k","sec":${fmt(v)},"budget":${fmt(b)},"canary":${fmt(can)}}""" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _, _) => v }.sum
    // anchor ratio over the SHARED query set (new queries don't dilute it)
    val shared = results.collect {
      case (k, v, true, _, _) if anchor.contains(k) => (v, anchor(k))
    }
    val anchorRatio =
      if (shared.isEmpty) -1.0 else shared.map(_._1).sum / shared.map(_._2).sum
    // PER-QUERY anchor watchlist: the per-round baseline refresh ratchets
    // (a +10%/round drifter never breaches its own budget), so every
    // bench line also names the top drifters vs the FROZEN anchor —
    // ratio > 1.25 with a 0.3 s absolute floor (sub-anchor noise), top
    // 10 by ratio. Every candidate already got the deferred re-run
    // above, so a listed drifter survived a post-wave min — treat it as
    // signal and land the adjudication in DIAG_rN.md. (make_bench_baseline
    // additionally refuses to refresh a drifting query's budget, so the
    // budget gate cannot absorb what this list reports.)
    val drifters = results.collect {
      case (k, v, true, _, _) if anchor.get(k).exists(a =>
        v / a > 1.25 && v - a > 0.3) => (k, v, anchor(k))
    }.sortBy { case (_, v, a) => -(v / a) }.take(10)
      .map { case (k, v, a) =>
        s"""{"q":"$k","sec":${fmt(v)},"anchor":${fmt(a)},"ratio":${fmt(v / a)}}""" }
      .mkString("[", ",", "]")
    val canaryEnd = (1 to 3).map(_ => canaryOnce()).min
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","canary_sec":${fmt(canaryStart)},"canary_end_sec":${fmt(canaryEnd)},"queries":$qs,"failed":$failed,"budget_exceeded":$exceeded,"baseline_queries":${baseline.size},"anchor_ratio":${fmt(anchorRatio)},"anchor_queries":${shared.size},"anchor_drifters":$drifters,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
