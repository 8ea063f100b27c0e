package graft

import scala.jdk.CollectionConverters._

class RegistrySpec extends SparkSpec {

  test("registered query names are unique and snake_case") {
    val names = (SparkEntry.allDefs ++ SparkEntry.benchOnlyDefs).map(_.name)
    assert(names.distinct.size === names.size, "duplicate query names")
  }

  test("every scoreboard query carries an oracle") {
    // The zero-err scoreboard contract: approximate operators register an
    // engine-independent verdict (recall/error-bound floor) as their
    // primary entry; raw estimate dumps live in benchOnlyDefs instead.
    val unoracled = SparkEntry.allDefs.filter(_.oracle.isEmpty).map(_.name)
    assert(unoracled.isEmpty, s"unoracled scoreboard rows: $unoracled")
  }

  test("every registered query executes at sf0.001") {
    // The Verify/Bench harness is the only other thing that runs every
    // query; this catches a registered-but-broken query at `sbt test` time.
    val failures = (SparkEntry.allDefs ++ SparkEntry.benchOnlyDefs).flatMap { d =>
      try { d.run(spark, sf).count(); None }
      catch { case e: Throwable => Some(s"${d.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("engine-wide plan audit: no cartesian product in ANY registered plan") {
    // Every crossJoin in the repo must broadcast a tiny side (planned as
    // BroadcastNestedLoopJoin); a CartesianProductExec anywhere means a
    // corpus×corpus blow-up shipped by accident. Run over EVERY
    // registered + bench-only query at sf0.001 — planning the executed
    // plan is enough, no job needs to run.
    // AQE off: AdaptiveSparkPlanExec hides its inner plan from collect()
    // until execution, which would make this audit silently vacuous
    // A def that fails during PLANNING here silently shrinks the audit's
    // coverage — surface those too ("every registered query executes"
    // proves they all run, so an unplannable def in THIS context is a
    // coverage hole, not an acceptable skip).
    val (unplanned, offenders) = withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      spark.catalog.clearCache()
      val outcomes = (SparkEntry.allDefs ++ SparkEntry.benchOnlyDefs).map { d =>
        try Right(d.name -> plans.PlanAudit.cartesianProducts(d.run(spark, sf)).nonEmpty)
        catch { case e: Throwable => Left(s"${d.name}: ${e.getMessage}") }
      }
      (outcomes.collect { case Left(m) => m },
        outcomes.collect { case Right((n, true)) => n })
    }
    assert(unplanned.isEmpty, s"audit coverage holes (failed to plan): $unplanned")
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("engine-wide plan audit: single-partition collapses only where documented") {
    // An unpartitioned Window/global Sort collapses ALL rows to one
    // partition — fatal on a large table. The only registered plans
    // allowed to carry a SinglePartition exchange are (a) the declared
    // compat form of the reference's one-series semantics (w0), (b)
    // dimension-bounded frames (dumps/top-k already reduce to result
    // size before sorting, j27's manufacturer frame is 5 rows), and
    // (c) driver-assembled
    // one-row/verdict outputs. The exemption list IS the documentation:
    // growing it requires justifying the new entry here.
    val exempt = Set(
      "w0_moving_avg_compat", // declared compat: the reference's literal global series
      "j27_q67_category_share", // manufacturer subtotal frame: 5 rows by construction
      "ret1_hybrid_rrf",      // rank fusion over two k-row (k=20) frames — serving-sized
      "e11_rolling_wau_sketch" // 7-day roll over ONE sketch row per DAY — calendar-bounded
    )
    val (unplanned, offenders) = withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      spark.catalog.clearCache()
      val outcomes = SparkEntry.allDefs.filterNot(d => exempt(d.name)).map { d =>
        // the robust signal: an unpartitioned WindowExec (required child
        // distribution = all tuples → SinglePartition exchange). Result-
        // side dump ORDER BYs are range-partitioned and don't trip.
        try Right(d.name -> plans.PlanAudit.singlePartitionWindows(d.run(spark, sf)).nonEmpty)
        catch { case e: Throwable => Left(s"${d.name}: ${e.getMessage}") }
      }
      (outcomes.collect { case Left(m) => m },
        outcomes.collect { case Right((n, true)) => n })
    }
    assert(unplanned.isEmpty, s"audit coverage holes (failed to plan): $unplanned")
    assert(offenders.isEmpty,
      s"undocumented unpartitioned windows in: $offenders")
  }

  test("the single-partition detector actually fires (non-vacuity probe)") {
    // prove the audit sees through to WindowExec: the exempted compat
    // query w0 IS the one-series form and must trip the detector with
    // AQE off — if it stops tripping, the audit above went blind
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      spark.catalog.clearCache()
      val d = SparkEntry.allDefs.find(_.name == "w0_moving_avg_compat").get
      val df = d.run(spark, sf)
      assert(plans.PlanAudit.singlePartitionWindows(df).nonEmpty,
        "w0's global window not detected — audit is blind")
      // and the one-call gate refuses it unless the caller exempts it
      intercept[IllegalStateException] { plans.PlanAudit.assertScaleSafe(df) }
      plans.PlanAudit.assertScaleSafe(df, allowSinglePartitionWindows = true)
    }
  }

  test("the query lookup trims each name of a comma-separated list") {
    val got = SparkEntry.select(Some(" w0_moving_avg_compat, d7_dedup_clusters ,"))
    assert(got.map(_.name).toSet === Set("w0_moving_avg_compat", "d7_dedup_clusters"))
    assert(SparkEntry.select(None).size ===
      (SparkEntry.allDefs ++ SparkEntry.benchOnlyDefs).size)
  }

  test("the query lookup refuses an unknown name, listing it, and a list naming none") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("w0_moving_avg_compat,d7_dedup_cluster,q0"))
    }
    assert(e.getMessage.contains("d7_dedup_cluster, q0"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
    // Verify's registry holds no bench-only raw form
    val raw = SparkEntry.benchOnlyDefs.head.name
    assert(SparkEntry.select(Some(raw)).map(_.name) === Seq(raw))
    intercept[IllegalArgumentException](SparkEntry.select(Some(raw), SparkEntry.allDefs))
  }

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  private val srcDir = new java.io.File(new java.io.File(Paths.work).getParentFile, "src")

  test("every fixed path comes from graft.Paths: no absolute literal elsewhere in src") {
    // a hard-coded root would make a checkout elsewhere write into this
    // one; the needle is split so this file does not match itself
    val needle = "\"/" + "root/"
    val files = scalaFiles(srcDir)
    assert(files.exists(_.getName == "Paths.scala"), s"no sources scanned under $srcDir")
    val offenders = for {
      f <- files if f.getName != "Paths.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains(needle)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the engine and its mains name exactly six SPARK_GRAFT_ knobs") {
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val files = scalaFiles(new java.io.File(srcDir, "main"))
    assert(files.exists(_.getName == "Bench.scala"), s"no sources scanned under $srcDir/main")
    val named = files.flatMap(f => knob.findAllIn(
      java.nio.file.Files.readString(f.toPath)).map(_ -> f.getName)).toSet
    val knobs = named.map(_._1)
    assert(knobs === Set("CPUS", "SF_DIR", "ONLY", "REPS", "MULTS", "PLAN_DIR")
      .map("SPARK_GRAFT_" + _),
      s"${knobs.size} knobs: " + named.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, fs) => s"$k (${fs.map(_._2).toSeq.sorted.mkString(", ")})" }
        .mkString(", "))
  }
}
