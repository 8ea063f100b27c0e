package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Data skipping over manifest footer statistics: the one hard safety
  * rule is that pruning NEVER changes results — `readWhere` must equal
  * `read.filter` on every predicate, including the degraded domains
  * (NaN, nulls, oversize strings, cross-type literals) — while on a
  * clustered column it must actually skip files. */
class StatsSpec extends SparkSpec {

  /** A typed fixture with every prune domain, clustered by doc_id so
    * file ranges are tight and disjoint: ints, longs, doubles (with
    * NaNs and nulls), short strings, oversize strings, dates,
    * timestamps, booleans. */
  private def fixture = {
    import org.apache.spark.sql.types._
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("small_i", (col("doc_id") % 97).cast("int"))
      .withColumn("big_l", col("doc_id") * 1000000007L)
      .withColumn("dbl", when(col("doc_id") % 17 === 0, lit(Double.NaN))
        .when(col("doc_id") % 13 === 0, lit(null).cast("double"))
        .otherwise(col("doc_id").cast("double") / 7.0))
      .withColumn("day", to_date(concat(lit("2024-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))))
      .withColumn("ts", to_timestamp(col("day")))
      .withColumn("flag", col("doc_id") % 2 === 0)
      .withColumn("allnull", lit(null).cast("long"))
    df.repartitionByRange(8, col("doc_id"))
  }

  test("footer stats ride the manifest: rows exact, typed bounds present") {
    val root = freshRoot("stats-ride")
    TxLog.init(spark, root, fixture)
    val snap = TxLog.snapshot(root).get
    assert(snap.entries.forall(_.stats.isDefined))
    val total = snap.entries.flatMap(_.stats).map(_.rows).sum
    assert(total === fixture.count())
    val st = snap.entries.head.stats.get
    assert(st.cols("doc_id").kind === 'l')
    assert(st.cols("doc_id").min.isDefined && st.cols("doc_id").max.isDefined)
    assert(st.cols("day").kind === 'D')
    assert(st.cols("ts").kind === 't')
    assert(st.cols("flag").kind === 'b')
    assert(st.cols("dbl").kind === 'd' || st.cols("dbl").kind === 'n')
    // the long text column degrades to nulls-only, never a wrong bound
    assert(st.cols("text").kind === 'n' || st.cols("text").max.isEmpty ||
      st.cols("text").max.get.getBytes("UTF-8").length <= 64)
    // all-null column: zero-valued bounds must NOT exist
    assert(st.cols("allnull").min.isEmpty)
  }

  test("readWhere == read.filter on every predicate shape (safety sweep)") {
    val root = freshRoot("stats-sweep")
    TxLog.init(spark, root, fixture)
    val hi = fixture.agg(max("doc_id")).head().getLong(0)
    val preds = Seq(
      s"doc_id >= ${hi / 3} AND doc_id < ${hi / 2}",
      s"doc_id = ${hi / 2}",
      "small_i IN (3, 5, 97)",
      "dbl > 100.5",
      "dbl <= 20.0 AND doc_id > 10",
      "day >= DATE'2024-01-20'",
      "ts < TIMESTAMP'2024-01-05 00:00:00'",
      "flag = true AND small_i < 9",
      "allnull IS NULL",
      "allnull IS NOT NULL",
      "dbl IS NULL",
      s"big_l > ${hi / 2 * 1000000007L}",
      "lang = 'en' OR doc_id < 5",       // OR: unprunable, must still be exact
      "doc_id % 7 = 0",                  // non-literal-shape conjunct
      s"doc_id <= 2.5",                  // fractional literal vs integral col
      "text = 'no such document text'",  // oversize-string domain
      s"${hi / 4} < doc_id AND ${hi / 3} >= doc_id") // mirrored literals
    preds.foreach { p =>
      val got = TxLog.readWhere(spark, root, p)
        .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
      val want = TxLog.read(spark, root).filter(expr(p))
        .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
      assert(got === want, s"readWhere mismatch for: $p")
    }
  }

  test("clustered column skips files; the scan reads only survivors") {
    val root = freshRoot("stats-skip")
    TxLog.init(spark, root, fixture)
    val snap = TxLog.snapshot(root).get
    val hi = fixture.agg(max("doc_id")).head().getLong(0)
    val pred = s"doc_id >= ${hi - 5}"
    val (kept, total) = TxLog.pruneEntries(spark, snap, pred)
    assert(total === snap.entries.size)
    assert(kept.size < total, s"expected skipping, kept ${kept.size}/$total")
    // point lookup on the clustering key: at most a couple of files
    val (keptEq, _) = TxLog.pruneEntries(spark, snap, s"doc_id = ${hi / 2}")
    assert(keptEq.size <= 2)
    // the physical plan's input files are exactly the survivors
    val scanned = TxLog.readWhere(spark, root, pred).inputFiles.toSet
    assert(scanned.size === kept.size)
    kept.foreach(e => assert(scanned.exists(_.endsWith(e.path)),
      s"survivor ${e.path} missing from scan"))
    // and IS NOT NULL on the all-null column prunes everything
    val (keptNN, _) = TxLog.pruneEntries(spark, snap, "allnull IS NOT NULL")
    assert(keptNN.isEmpty)
    assert(TxLog.readWhere(spark, root, "allnull IS NOT NULL").count() === 0L)
  }

  test("cross-domain literals beyond 2^53 never prune (double-cast rounding > ±1)") {
    import spark.implicits._
    // Spark compares long-vs-double through a double cast whose rounding
    // error is half an ulp of the magnitude — 512 near 2^63, far beyond
    // the ±1 widening. Both rows below MATCH their predicate after the
    // cast, yet their exact stats sit ~500 outside the ±1-widened
    // literal: a prune here silently loses rows / spares delete victims.
    val bigDbl = 9223372036854774784L.toDouble // exactly representable
    val x0 = 9223372036854774784L - 500L       // x0.toDouble == bigDbl
    assert(x0.toDouble === bigDbl)
    val rootL = freshRoot("stats-hugelong")
    TxLog.init(spark, rootL,
      Seq(x0, 1L, 2L).toDF("x").repartitionByRange(2, col("x")))
    val predL = "x = 9.223372036854774784E18"
    val gotL = TxLog.readWhere(spark, rootL, predL).count()
    assert(gotL === TxLog.read(spark, rootL).filter(expr(predL)).count())
    assert(gotL === 1L, "huge-magnitude double literal wrongly pruned the long file")

    // the mirror: double column vs integral literal that casts onto it
    val rootD = freshRoot("stats-hugedbl")
    TxLog.init(spark, rootD,
      Seq(bigDbl, 1.0, 2.0).toDF("d").repartitionByRange(2, col("d")))
    val predD = s"d = ${9223372036854774784L - 500L}L"
    val gotD = TxLog.readWhere(spark, rootD, predD).count()
    assert(gotD === TxLog.read(spark, rootD).filter(expr(predD)).count())
    assert(gotD === 1L, "huge-magnitude long literal wrongly pruned the double file")

    // sanity: small-magnitude cross-domain compares still prune
    val snap = TxLog.snapshot(rootL).get
    val (kept, total) = TxLog.pruneEntries(spark, snap, "x = 1.0")
    assert(kept.size < total)
  }

  test("timestamp columns never prune against bare numeric literals") {
    val root = freshRoot("stats-tsunit")
    TxLog.init(spark, root, fixture)
    val snap = TxLog.snapshot(root).get
    // Spark's long->timestamp cast is SECONDS, footer stats are MICROS:
    // a numeric literal must not be allowed anywhere near the bounds
    val (kept, total) = TxLog.pruneEntries(spark, snap, "ts > 1700000000")
    assert(kept.size === total)
    // while a proper timestamp literal does prune
    val (keptTs, _) = TxLog.pruneEntries(spark, snap,
      "ts > TIMESTAMP'2030-01-01 00:00:00'")
    assert(keptTs.size < total)
  }

  test("stats survive delta manifests, checkpoints, and compaction") {
    val root = freshRoot("stats-delta")
    val base = fixture
    TxLog.init(spark, root, base.filter(col("doc_id") % 4 === 0))
    // 12 appends cross the checkpoint interval; each is a delta manifest
    (1 to 3).foreach { r =>
      TxLog.appendOnce(spark, root, s"batch-$r", base.filter(col("doc_id") % 4 === r))
    }
    val snap = TxLog.snapshot(root).get
    assert(snap.entries.forall(_.stats.isDefined))
    assert(snap.entries.flatMap(_.stats).map(_.rows).sum === base.count())
    val hi = base.agg(max("doc_id")).head().getLong(0)
    val (kept, total) = TxLog.pruneEntries(spark, snap, s"doc_id = ${hi / 2}")
    assert(kept.size < total)
    // compact restages -> fresh stats on the packed files
    TxLog.compact(spark, root, targetFiles = 2)
    val snap2 = TxLog.snapshot(root).get
    assert(snap2.entries.forall(_.stats.isDefined))
    assert(TxLog.readWhere(spark, root, s"doc_id = ${hi / 2}").count() ===
      TxLog.read(spark, root).filter(col("doc_id") === hi / 2).count())
  }

  test("partition pruning flows through readWhere (tuple point stats)") {
    val root = freshRoot("stats-part")
    val df = fixture.withColumn("bucket", (col("doc_id") % 5).cast("int"))
    TxLog.initPartitioned(spark, root, df, "bucket")
    val snap = TxLog.snapshot(root).get
    val (kept, total) = TxLog.pruneEntries(spark, snap, "bucket = 3")
    assert(kept.size < total)
    assert(kept.forall(_.part.contains("3")))
    // combined partition + clustered-column conjuncts prune multiplicatively
    val hi = df.agg(max("doc_id")).head().getLong(0)
    val (kept2, _) = TxLog.pruneEntries(spark, snap,
      s"bucket = 3 AND doc_id >= ${hi - 3}")
    assert(kept2.size <= kept.size)
    val got = TxLog.readWhere(spark, root, s"bucket = 3 AND doc_id >= ${hi - 3}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = TxLog.read(spark, root)
      .filter(col("bucket") === 3 && col("doc_id") >= hi - 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
  }

  test("automatic skipping: plain read + filter scans fewer files (no opt-in)") {
    val root = freshRoot("stats-auto")
    TxLog.init(spark, root, fixture)
    val snap = TxLog.snapshot(root).get
    val hi = fixture.agg(max("doc_id")).head().getLong(0)
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // materialize so the scan metric is populated
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val unfiltered = numFiles(TxLog.read(spark, root).select("doc_id"))
    assert(unfiltered === snap.entries.size.toLong)
    // a plain .filter over a plain read — no readWhere — skips files
    val filtered = numFiles(TxLog.read(spark, root)
      .filter(col("doc_id") >= hi - 3).select("doc_id"))
    assert(filtered < unfiltered, s"expected skipping, scanned $filtered/$unfiltered")
    // and through the SQL surface too
    TxLog.read(spark, root).createOrReplaceTempView("auto_skip_t")
    val viaSql = numFiles(spark.sql(
      s"SELECT doc_id FROM auto_skip_t WHERE doc_id >= ${hi - 3}"))
    assert(viaSql < unfiltered)
    // correctness unchanged
    assert(TxLog.read(spark, root).filter(col("doc_id") >= hi - 3).count() ===
      fixture.filter(col("doc_id") >= hi - 3).count())
  }

  test("pruned delete rewrites only candidate files, carries the rest") {
    val root = freshRoot("stats-pdel")
    val base = fixture
    TxLog.init(spark, root, base)
    val before = TxLog.snapshot(root).get
    val hi = base.agg(max("doc_id")).head().getLong(0)
    // victims live in a narrow clustered range: most files must carry
    TxLog.delete(spark, root, col("doc_id") >= hi - 3 && col("doc_id") <= hi)
    val after = TxLog.snapshot(root).get
    val beforePaths = before.entries.map(_.path).toSet
    val carried = after.entries.map(_.path).toSet.intersect(beforePaths)
    assert(carried.nonEmpty, "expected untouched files carried by reference")
    assert(carried.size < beforePaths.size, "expected some files rewritten")
    // content is exact: base minus victims
    val got = TxLog.read(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = base.filter(col("doc_id") < hi - 3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === want)
    // carried files keep their stats (skipping still works post-delete)
    assert(after.entries.forall(_.stats.isDefined))
  }

  test("delete with no possible victim is a metadata-only commit") {
    val root = freshRoot("stats-ndel")
    TxLog.init(spark, root, fixture)
    val before = TxLog.snapshot(root).get
    val hi = fixture.agg(max("doc_id")).head().getLong(0)
    val v = TxLog.delete(spark, root, col("doc_id") > hi + 1000)
    val after = TxLog.snapshot(root).get
    assert(v === before.version + 1)
    assert(after.entries.map(_.path) === before.entries.map(_.path))
    assert(TxLog.read(spark, root).count() === fixture.count())
  }

  test("delete with an unprunable predicate still deletes exactly") {
    val root = freshRoot("stats-udel")
    TxLog.init(spark, root, fixture)
    TxLog.delete(spark, root, col("doc_id") % 13 === 0)
    val got = TxLog.read(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = fixture.filter(col("doc_id") % 13 =!= 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === want)
  }

  test("pruned delete on a partitioned table respects layout and mapping") {
    val root = freshRoot("stats-pdelpart")
    val df = fixture.withColumn("bucket", (col("doc_id") % 5).cast("int"))
    TxLog.initPartitioned(spark, root, df, "bucket")
    TxLog.renameColumn(spark, root, "small_i", "renamed_i")
    val before = TxLog.snapshot(root).get
    // partition conjunct prunes to one bucket's files
    TxLog.delete(spark, root, col("bucket") === 2 && col("renamed_i") >= 0)
    val after = TxLog.snapshot(root).get
    val carried = after.entries.map(_.path).toSet
      .intersect(before.entries.map(_.path).toSet)
    assert(before.entries.filterNot(_.part.contains("2"))
      .forall(e => carried(e.path)), "non-bucket-2 files must carry")
    val got = TxLog.read(spark, root)
      .select("doc_id", "renamed_i", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val want = df.filter(col("bucket") =!= 2)
      .select("doc_id", "small_i", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === want)
  }

  test("pruned update rewrites only candidate files; retypes fall back") {
    val root = freshRoot("stats-pupd")
    val base = fixture.select("doc_id", "small_i", "text")
    TxLog.init(spark, root, base)
    val before = TxLog.snapshot(root).get
    val hi = base.agg(max("doc_id")).head().getLong(0)
    TxLog.updateWhere(spark, root, col("doc_id") >= hi - 3,
      Seq("small_i" -> lit(-1)))
    val after = TxLog.snapshot(root).get
    val carried = after.entries.map(_.path).toSet
      .intersect(before.entries.map(_.path).toSet)
    assert(carried.nonEmpty && carried.size < before.entries.size)
    val got = TxLog.read(spark, root)
      .filter(col("small_i") === -1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = base.filter(col("doc_id") >= hi - 3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === want)
    assert(TxLog.read(spark, root).count() === base.count())
    // a retyping SET (int -> double via when-branch coercion) must fall
    // back to the whole-table rewrite: mixed parquet vintages of one
    // physical column would not read uniformly
    TxLog.updateWhere(spark, root, col("doc_id") === hi,
      Seq("small_i" -> lit(2.5)))
    val snap3 = TxLog.snapshot(root).get
    assert(snap3.entries.map(_.path).toSet
      .intersect(after.entries.map(_.path).toSet).isEmpty,
      "retype must rewrite every file")
    assert(TxLog.read(spark, root).filter(col("small_i") === 2.5)
      .count() === 1L)
  }

  test("column mapping: a renamed column still prunes under its new name") {
    val root = freshRoot("stats-rename")
    TxLog.init(spark, root, fixture.select("doc_id", "small_i", "text"))
    TxLog.renameColumn(spark, root, "small_i", "bucketed")
    val snap = TxLog.snapshot(root).get
    val hi = fixture.agg(max("doc_id")).head().getLong(0)
    val got = TxLog.readWhere(spark, root, s"doc_id >= ${hi - 5} AND bucketed >= 0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = TxLog.read(spark, root).filter(col("doc_id") >= hi - 5)
      .filter(col("bucketed") >= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    // pruning on the RENAMED doc_id-correlated conjunct still skips
    val (kept, total) = TxLog.pruneEntries(spark, snap, s"doc_id >= ${hi - 5}")
    assert(kept.size < total)
  }

  test("stats pruning across type-widened vintages: int32 and int64 " +
      "footers compare in one integral domain, floats and doubles in " +
      "one fractional domain") {
    import spark.implicits._
    val root = freshRoot("stats-widen")
    // v1: int ids 0..999, float scores — footer bounds recorded from
    // int32/float pages
    TxLog.init(spark, root,
      (0 until 1000).map(i => (i, i.toFloat / 2)).toDF("id", "score")
        .repartition(4))
    TxLog.setProperties(root, Map("type_widening" -> "true")) // v2: opt-in
    // v3: bigint ids past the int ceiling — the commit widens the schema
    TxLog.commitAppend(spark, root,
      (0L until 100L).map(i => (i + 3000000000L, i.toDouble))
        .toDF("id", "score"), expected = 2L)
    val snap = TxLog.snapshot(root).get
    // a predicate past the int ceiling keeps ONLY the wide vintage's
    // files: the int32 footers' bounds must decode and compare in the
    // same integral domain as the int64 literal (a width-blind compare
    // would keep or drop wrongly)
    val (kWide, total) = TxLog.pruneEntries(spark, snap, "id >= 3000000000")
    assert(kWide.nonEmpty && kWide.size < total,
      s"wide predicate kept ${kWide.size}/$total")
    assert(TxLog.readWhere(spark, root, "id >= 3000000000").count() === 100L)
    // and a predicate inside the narrow range drops the wide files
    val (kNarrow, _) = TxLog.pruneEntries(spark, snap, "id < 500")
    assert(kNarrow.size < total, s"narrow predicate kept ${kNarrow.size}/$total")
    assert(TxLog.readWhere(spark, root, "id < 500").count() === 500L)
    // fractional domain: float footers vs a double literal
    val (kScore, _) = TxLog.pruneEntries(spark, snap, "score >= 499.9")
    assert(kScore.size < total, s"score predicate kept ${kScore.size}/$total")
    assert(TxLog.readWhere(spark, root, "score >= 499.9").count() ===
      TxLog.read(spark, root).filter(col("score") >= 499.9).count())
  }

  test("ANALYZE TABLE: one metadata commit stores exact rows/nulls/min/max " +
      "+ HLL ndv, DESCRIBE STATS reads them back, re-analyze replaces") {
    import spark.implicits._
    val root = freshRoot("stats-analyze")
    TxLog.init(spark, root,
      (Seq((1, "a"), (2, "b"), (3, "b")) :+ ((4, null.asInstanceOf[String])))
        .toDF("id", "s"))
    val v = TxLog.analyzeTable(spark, root) // all columns
    assert(v === 2L, "stats are one metadata-only commit")
    val kv = TxLog.kvOf(TxLog.snapshot(root).get.notes)
    assert(kv("stats_v") === "1", "stats pin the ANALYZED version")
    assert(kv("stats_rows") === "4")
    val st = TxLog.describeStats(spark, root).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toMap
    assert(st("id") === ((4L, 0L, "1", "4")))
    // HLL ndv exact at tiny cardinality; null excluded from ndv/min/max
    assert(st("s") === ((2L, 1L, "a", "b")))
    // re-analyze after an append REPLACES (kv merge semantics) and
    // advances the pin
    TxLog.commitAppend(spark, root,
      Seq((9, "z")).toDF("id", "s"), expected = 2L)
    TxLog.analyzeTable(spark, root, Seq("id"))
    val kv2 = TxLog.kvOf(TxLog.snapshot(root).get.notes)
    assert(kv2("stats_v") === "3")
    assert(kv2("stats_rows") === "5")
    val st2 = TxLog.describeStats(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(st2("id") === "9")
    assert(st2.contains("s"), "unanalyzed columns keep their prior stats")
    // SQL verbs round-trip; a missing column refuses loudly
    import SqlSurface.TxSql
    TxSql.sql(spark, s"ANALYZE TABLE txlog.`$root` COMPUTE STATISTICS " +
      "FOR COLUMNS s")
    assert(TxSql.sql(spark, s"DESCRIBE STATS txlog.`$root`")
      .filter(col("column") === "s").head().getString(4) === "z")
    val ex = intercept[IllegalArgumentException] {
      TxLog.analyzeTable(spark, root, Seq("nope"))
    }
    assert(ex.getMessage.contains("no column nope"))
  }

  test("fresh ANALYZE stats shrink the relation's size estimate: the " +
      "DataFrame path flips a dim-fact join to broadcast, data commits revert it") {
    val root = freshRoot("stats-szhint")
    import spark.implicits._
    // on-disk bytes over the (test-scale) threshold — incompressible
    // payload — while rows x defaultSize width sits under it
    def blob(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 8).map { j =>
        md.reset(); md.update(s"sz$i:$j".getBytes)
        md.digest().map("%02x".format(_)).mkString
      }.mkString
    }
    TxLog.init(spark, root,
      (0L until 1500L).map(i => (i, blob(i))).toDF("k", "payload").repartition(2))
    val fact = spark.range(0L, 20000L).select(
      (col("id") % 1500L).as("k"), (col("id") * 3L).as("m"))
    def planOf(): String = fact.join(TxLog.read(spark, root), Seq("k"))
      .groupBy("k").count().queryExecution.executedPlan.toString
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "65536",
      "spark.sql.adaptive.enabled" -> "false") {
      assert(TxLog.snapshot(root).get.entries.flatMap(_.size).sum > 65536L)
      val before = planOf()
      assert(!before.contains("BroadcastHashJoin"),
        s"un-analyzed relation must size by file bytes:\n$before")
      val want = fact.join(TxLog.read(spark, root), Seq("k")).groupBy("k")
        .count().collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      TxLog.analyzeTable(spark, root)
      val after = planOf()
      assert(after.contains("BroadcastHashJoin"),
        s"fresh stats must shrink the estimate under the threshold:\n$after")
      val got = fact.join(TxLog.read(spark, root), Seq("k")).groupBy("k")
        .count().collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got === want, "the size hint changes plans, never answers")
      // data commit stales the fingerprint -> back to file-byte sizing
      TxLog.insertInto(spark, root, Seq((9999L, "late")).toDF("k", "payload"))
      assert(!planOf().contains("BroadcastHashJoin"),
        "a data commit must revert the relation to file-byte sizing")
    }
  }
}
