package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import graft.operators.SqlSurface.TxSql
import org.apache.spark.sql.functions._

/** Deletion vectors (merge-on-read DELETE): semantics must be EXACTLY
  * [[TxLog.delete]]'s (SQL DELETE, NULL-predicate rows survive), while
  * the data files are provably untouched — the commit writes positions,
  * not bytes. Accumulation, purge-on-rewrite, time travel, vacuum
  * protection, the append-feed refusal, and the `delete_mode` property
  * routing are all pinned here. */
class DvSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)
    .select("doc_id", "text", "lang")

  test("deleteMoR: COW-identical results, zero data files rewritten") {
    val root = freshRoot("dv-basic")
    TxLog.init(spark, root, docs.repartition(4))
    val before = TxLog.snapshot(root).get
    val v = TxLog.deleteMoR(spark, root, col("doc_id") % 7 === 0)
    assert(v === 2L)
    val after = TxLog.snapshot(root).get
    // the data files are byte-identical: same paths, same sizes — only
    // the dv field changed
    assert(after.entries.map(e => (e.path, e.size)) ===
      before.entries.map(e => (e.path, e.size)))
    assert(after.entries.exists(_.dv.isDefined))
    val got = TxLog.read(spark, root)
    val want = docs.filter(col("doc_id") % 7 =!= 0)
    assert(got.count() === want.count())
    assert(got.agg(sum(col("doc_id"))).head().getLong(0) ===
      want.agg(sum(col("doc_id"))).head().getLong(0))
    // exact live-row accounting without touching data
    assert(after.entries.flatMap(_.liveRows).sum === want.count())
    // while vectors live, the scan applies them via a broadcast anti-join
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
  }

  test("MoR delete writes O(victims) at R and 8R rows per file; a COW " +
      "delete restages every candidate file, its bytes growing with R") {
    val nFiles = 4
    def bytesUnder(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum
    // one victim per file (id % rowsPerFile == 0): a fixed victim count
    // in every file, unprunable by footer stats. Returns (restaged data
    // files, bytes written under data/).
    def delete(rowsPerFile: Long, mor: Boolean): (Int, Long) = {
      val root = freshRoot(s"dv-scale-$rowsPerFile")
      val data = new java.io.File(s"$root/data")
      TxLog.init(spark, root,
        spark.range(0L, nFiles * rowsPerFile, 1L, nFiles).toDF("id")
          .withColumn("payload", md5(col("id").cast("string").cast("binary"))))
      val before = TxLog.snapshot(root).get.entries.map(e => (e.path, e.size))
      val bytes0 = bytesUnder(data)
      val victim = col("id") % rowsPerFile === 0
      if (mor) TxLog.deleteMoR(spark, root, victim)
      else TxLog.delete(spark, root, victim)
      val kept = TxLog.snapshot(root).get.entries.map(e => (e.path, e.size)).toSet
      assert(TxLog.read(spark, root).count() === nFiles * (rowsPerFile - 1))
      (before.count(e => !kept(e)), bytesUnder(data) - bytes0)
    }
    val rows = 250L
    val (morRestaged, morBytes) = delete(rows, mor = true)
    val (morRestaged8, morBytes8) = delete(8 * rows, mor = true)
    val (cowRestaged, cowBytes) = delete(rows, mor = false)
    val (cowRestaged8, cowBytes8) = delete(8 * rows, mor = false)
    // MoR: only the sidecar, under a bound independent of table size
    assert(morRestaged === 0 && morRestaged8 === 0)
    assert(morBytes <= 4096L && morBytes8 <= 4096L,
      s"sidecar bytes $morBytes / $morBytes8")
    // COW: every candidate file rewritten, bytes growing with the files
    assert(cowRestaged === nFiles && cowRestaged8 === nFiles)
    assert(cowBytes8 >= 4L * cowBytes, s"COW bytes $cowBytes / $cowBytes8")
  }

  test("NULL-predicate rows survive a MoR delete (SQL DELETE semantics)") {
    val root = freshRoot("dv-nullpred")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, Some(1)), (2L, None), (3L, Some(3))).toDF("id", "v"))
    TxLog.deleteMoR(spark, root, col("v") > 1)
    assert(TxLog.read(spark, root).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
  }

  test("repeated MoR deletes accumulate exactly; fully-deleted files drop") {
    val root = freshRoot("dv-accum")
    TxLog.init(spark, root, docs.repartitionByRange(4, col("doc_id")))
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    TxLog.deleteMoR(spark, root, col("doc_id") % 2 === 0)
    TxLog.deleteMoR(spark, root, col("doc_id") % 3 === 0)
    val want = docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") % 3 =!= 0)
    assert(TxLog.read(spark, root).count() === want.count())
    // a range-delete that empties whole files drops their entries outright
    val n3 = TxLog.snapshot(root).get.entries.size
    TxLog.deleteMoR(spark, root, col("doc_id") > hi / 2)
    val after = TxLog.snapshot(root).get
    assert(after.entries.size < n3,
      "fully-deleted files must leave the manifest")
    assert(TxLog.read(spark, root).count() ===
      want.filter(col("doc_id") <= hi / 2).count())
    // delete EVERYTHING: entries stay (dv'd), reads are an exact zero
    TxLog.deleteMoR(spark, root, lit(true))
    assert(TxLog.read(spark, root).count() === 0L)
    assert(TxLog.read(spark, root).columns.toSeq === docs.columns.toSeq)
  }

  test("compaction purges vectors: rewritten survivors, dv-free manifest") {
    val root = freshRoot("dv-purge")
    TxLog.init(spark, root, docs.repartition(2))
    TxLog.deleteMoR(spark, root, col("doc_id") % 5 === 0)
    val want = docs.filter(col("doc_id") % 5 =!= 0)
    // at-target file count would normally no-op — live vectors make it
    // a rewrite candidate (compact IS the purge path)
    TxLog.compact(spark, root, targetFiles = 2)
    val snap = TxLog.snapshot(root).get
    assert(snap.entries.forall(_.dv.isEmpty), "compact must purge vectors")
    assert(TxLog.read(spark, root).count() === want.count())
    // post-purge scans carry no anti-join
    val plan = TxLog.read(spark, root).queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"))
    // the orphaned sidecar is reclaimed once history is pruned
    TxLog.pruneHistory(root, keepLast = 1)
    assert(TxLog.vacuum(root, graceMs = 0L) >= 1)
    assert(TxLog.read(spark, root).count() === want.count())
  }

  test("MoR delete on a (lang, day) partitioned table; census stays exact") {
    val root = freshRoot("dv-part")
    val d = docs.withColumn("day", (col("doc_id") % 3).cast("int"))
    TxLog.initPartitioned(spark, root, d, Seq("lang", "day"), "")
    val lang = d.select("lang").distinct().collect().map(_.getString(0)).min
    TxLog.deleteMoR(spark, root, col("lang") === lang && col("day") === 1)
    val want = d.filter(not(col("lang") === lang && col("day") === 1))
    assert(TxLog.read(spark, root).count() === want.count())
    // partition census reports LIVE rows (footer minus dv)
    val census = TxLog.partitionCensus(root)
    census.foreach { case (tuple, _, nRows) =>
      val Seq(l, day) = tuple
      val exp = d.filter(col("lang") <=> lit(l.orNull) &&
        col("day") <=> lit(day.map(_.toInt).orNull)).count()
      val expLive =
        if (l.contains(lang) && day.contains("1")) 0L else exp
      assert(nRows.contains(expLive), s"census wrong for $tuple")
    }
    // vectors live only where victims lived: untouched tuples' entries
    // carry none
    assert(TxLog.snapshot(root).get.entries
      .filter(e => !e.part.contains(s"$lang/1"))
      .forall(_.dv.isEmpty))
  }

  test("time travel: pre-delete versions keep their rows; restore works") {
    val root = freshRoot("dv-travel")
    TxLog.init(spark, root, docs)
    val full = docs.count()
    TxLog.deleteMoR(spark, root, col("doc_id") % 2 === 0)
    assert(TxLog.read(spark, root, 1L).count() === full)
    assert(TxLog.read(spark, root, 2L).count() ===
      docs.filter(col("doc_id") % 2 =!= 0).count())
    TxLog.restore(spark, root, 1L)
    assert(TxLog.read(spark, root).count() === full)
  }

  test("batched MoR deletes over OVERLAPPING file subsets carry each " +
      "entry's positions from its own sidecar exactly once") {
    // the round-12 shape read every prior sidecar semi-joined against the
    // full candidate path set: a file whose positions live in TWO
    // sidecars (d1 touched A+B → S1; d2, stats-pruned to A only, wrote S2
    // carrying S1's A-rows) had them double-counted by d3 (prior =
    // {A→S2, B→S1}), and the inflated count reaching stats.rows dropped
    // file A with a live row still in it — silent data loss
    val root = freshRoot("dv-overlap")
    import spark.implicits._
    TxLog.init(spark, root,
      (0L to 3L).map(i => (i, s"a$i")).toDF("id", "s").repartition(1))
    TxLog.appendOnce(spark, root, "b",
      (10L to 13L).map(i => (i, s"b$i")).toDF("id", "s").repartition(1))
    assert(TxLog.snapshot(root).get.entries.size === 2)
    TxLog.deleteMoR(spark, root, col("id").isin(0L, 10L)) // touches A and B
    TxLog.deleteMoR(spark, root, col("id") === 1L)        // pruned to A only
    // prior sidecars now differ per entry: A points at d2's, B at d1's
    val mid = TxLog.snapshot(root).get
    assert(mid.entries.flatMap(_.dv.map(_._1)).distinct.size === 2,
      "fixture must produce two live sidecars for the overlap to matter")
    TxLog.deleteMoR(spark, root, col("id").isin(2L, 11L)) // touches A and B
    val after = TxLog.snapshot(root).get
    // file A has exactly one live row (id=3): double-counting S1's A-row
    // through S2 would inflate A's count to stats.rows and drop the entry
    assert(after.entries.size === 2,
      "no entry may drop while it still has live rows")
    assert(after.entries.flatMap(_.liveRows).sorted === Seq(1L, 2L))
    assert(TxLog.read(spark, root).select("id").as[Long].collect().sorted
      === Array(3L, 12L, 13L))
    // and the zero-new-victims short-circuit stays exact: re-deleting an
    // already-deleted row (file A stays a stats candidate, zero live
    // victims) must read counts == priorRows and take the metadata bump
    val files0 = new java.io.File(s"$root/data").listFiles().length
    TxLog.deleteMoR(spark, root, col("id") === 2L)
    assert(TxLog.read(spark, root).count() === 3L)
    assert(TxLog.snapshot(root).get.entries.flatMap(_.dv.map(_._1)).sorted
      === after.entries.flatMap(_.dv.map(_._1)).sorted,
      "zero-victim delete must leave every dv pointer unchanged")
    assert(new java.io.File(s"$root/data").listFiles().length === files0,
      "zero-victim delete must not leave a staged sidecar behind")
  }

  test("deleteMoRKeys: DataFrame-held victims, semi-join delete, " +
      "key-range file pruning") {
    val root = freshRoot("dv-keys")
    import spark.implicits._
    TxLog.init(spark, root,
      (0L to 3L).map(i => (i, s"a$i")).toDF("id", "s").repartition(1))
    TxLog.appendOnce(spark, root, "b",
      (10L to 13L).map(i => (i, s"b$i")).toDF("id", "s").repartition(1))
    // the key set never becomes literals: victims select by semi-join,
    // and the keys' own min/max (1..2) prunes file B via footer stats
    TxLog.deleteMoRKeys(spark, root, "id",
      Seq(1L, 2L, 2L).toDF("id")) // dup key must not double-count
    val snap = TxLog.snapshot(root).get
    val dvd = snap.entries.filter(_.dv.isDefined)
    assert(dvd.size === 1 && dvd.head.dv.get._2 === 2L,
      "only the file whose stats admit the key range may carry a vector")
    assert(TxLog.read(spark, root).select("id").as[Long].collect().sorted
      === Array(0L, 3L, 10L, 11L, 12L, 13L))
    // NULL keys never match (IN semantics); absent keys are no-ops
    TxLog.deleteMoRKeys(spark, root, "id",
      Seq[java.lang.Long](null, 999L).toDF("id"))
    assert(TxLog.read(spark, root).count() === 6L)
  }

  test("updateMoR over overlapping prior sidecars: exact positions, " +
      "no double-count") {
    val root = freshRoot("dv-overlapupd")
    import spark.implicits._
    TxLog.init(spark, root,
      (0L to 3L).map(i => (i, s"a$i")).toDF("id", "s").repartition(1))
    TxLog.appendOnce(spark, root, "b",
      (10L to 13L).map(i => (i, s"b$i")).toDF("id", "s").repartition(1))
    TxLog.deleteMoR(spark, root, col("id").isin(0L, 10L))
    TxLog.deleteMoR(spark, root, col("id") === 1L)
    // MoR update touching both files against split prior sidecars
    TxLog.updateMoR(spark, root, col("id").isin(2L, 11L),
      Seq("s" -> lit("U")))
    val got = TxLog.read(spark, root).select("id", "s").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(got === Array((2L, "U"), (3L, "a3"), (11L, "U"),
      (12L, "b12"), (13L, "b13")))
    // census stays exact: original files' live rows = 1 (A) + 2 (B),
    // plus the two appended post-image rows
    val after = TxLog.snapshot(root).get
    assert(after.entries.flatMap(_.liveRows).sum === 5L)
  }

  test("readAppended refuses ranges containing a MoR delete") {
    val root = freshRoot("dv-feed")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    TxLog.appendOnce(spark, root, "b1", Seq((3L, "c")).toDF("id", "s"))
    assert(TxLog.readAppended(spark, root, 1L).count() === 1L)
    // partial MoR delete: the file STAYS (same path) but its dv changed —
    // exactly the shape a path-only diff would miss
    TxLog.deleteMoR(spark, root, col("id") === 1L)
    val ex = intercept[IllegalArgumentException] {
      TxLog.readAppended(spark, root, 1L).count()
    }
    assert(ex.getMessage.contains("deletion vector"))
    // a file added AND partially dv'd inside the range is caught too
    TxLog.appendOnce(spark, root, "b2",
      Seq((4L, "d"), (5L, "e")).toDF("id", "s").coalesce(1))
    TxLog.deleteMoR(spark, root, col("id") === 4L)
    intercept[IllegalArgumentException] {
      TxLog.readAppended(spark, root, 3L).count()
    }
    // a file added AND FULLY deleted inside the range nets out of both
    // ENDPOINT manifests — exactly the shape the per-version walk exists
    // for: a delete landed in the range, so the range refuses loudly
    // (delivering the net-out silently would hide that the history is
    // not append-only; same contract as the genesis walk and the Delta
    // source without ignoreChanges)
    TxLog.appendOnce(spark, root, "b3", Seq((6L, "f")).toDF("id", "s"))
    TxLog.deleteMoR(spark, root, col("id") === 6L)
    val exNet = intercept[IllegalArgumentException] {
      TxLog.readAppended(spark, root, 5L)
    }
    assert(exNet.getMessage.contains("removed or rewrote") ||
      exNet.getMessage.contains("deletion vector"))
    // the single-step suffix after the delete is clean again
    val cur = TxLog.currentVersion(root)
    assert(TxLog.readAppended(spark, root, cur, cur).count() === 0L)
  }

  test("readAppended refuses a COW rewrite strictly inside a multi-version range") {
    // the non-genesis blind spot: append@v2 then COW-delete@v3 — the
    // rewritten file is in NEITHER endpoint manifest, so an endpoint
    // diff would silently deliver the survivor file's rows while the
    // delete vanished. The per-version walk refuses.
    val root = freshRoot("dv-feed-cow")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a")).toDF("id", "s")) // v1
    TxLog.appendOnce(spark, root, "b1",
      Seq((2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1)) // v2
    TxLog.delete(spark, root, col("id") === 2L) // v3: COW rewrite of b1's file
    val ex = intercept[IllegalArgumentException] {
      TxLog.readAppended(spark, root, 1L, 3L)
    }
    assert(ex.getMessage.contains("removed or rewrote"))
    // each single step still answers exactly: (1,2] is the clean append
    assert(TxLog.readAppended(spark, root, 1L, 2L).orderBy("id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
    // and (2,3] refuses on its own endpoint diff (file b1 removed)
    intercept[IllegalArgumentException] {
      TxLog.readAppended(spark, root, 2L, 3L)
    }
    // genesis replay over the same history refuses too (unchanged)
    intercept[IllegalArgumentException] {
      TxLog.readAppended(spark, root, 0L)
    }
  }

  test("column mapping composes: rename, MoR delete via the new name, drop") {
    val root = freshRoot("dv-mapping")
    TxLog.init(spark, root, docs)
    TxLog.renameColumn(spark, root, "lang", "language")
    TxLog.deleteMoR(spark, root, col("language") === "en")
    val want = docs.filter(col("lang") =!= "en")
    val got = TxLog.read(spark, root)
    assert(got.columns.toSeq === Seq("doc_id", "text", "language"))
    assert(got.count() === want.count())
    // data skipping stays exact with vectors live
    assert(TxLog.readWhere(spark, root, "doc_id < 100").count() ===
      want.filter(col("doc_id") < 100).count())
  }

  test("delete_mode=mor property routes delete(); SQL surface end-to-end") {
    val root = freshRoot("dv-sqlmode")
    TxLog.init(spark, root, docs)
    val v = TxSql.sql(spark,
      s"ALTER TABLE txlog.`$root` SET TBLPROPERTIES ('delete_mode' = 'mor')")
      .head().getLong(0)
    assert(v === 2L)
    assert(TxLog.kvOf(TxLog.snapshot(root).get.notes)
      .get("delete_mode").contains("mor"))
    val before = TxLog.snapshot(root).get.entries.map(_.path)
    // both the API default and SQL DELETE now take the MoR path
    TxSql.sql(spark, s"DELETE FROM txlog.`$root` WHERE doc_id % 11 = 0")
    TxLog.delete(spark, root, col("doc_id") % 13 === 0)
    val after = TxLog.snapshot(root).get
    assert(after.entries.map(_.path) === before,
      "property-routed deletes must not rewrite data files")
    assert(TxLog.read(spark, root).count() ===
      docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 13 =!= 0).count())
    // DESCRIBE DETAIL surfaces live rows + dv accounting
    val det = TxSql.sql(spark, s"DESCRIBE DETAIL txlog.`$root`").head()
    assert(det.getAs[Long]("n_rows") === TxLog.read(spark, root).count())
    assert(det.getAs[Int]("dv_files") > 0)
    assert(det.getAs[Long]("dv_rows") ===
      docs.filter(col("doc_id") % 11 === 0 || col("doc_id") % 13 === 0).count())
  }

  test("updateMoR: COW-identical results; O(changed rows) written, files untouched") {
    val root = freshRoot("dv-upd")
    TxLog.init(spark, root, docs.repartition(4))
    val before = TxLog.snapshot(root).get
    TxLog.updateMoR(spark, root, col("doc_id") % 10 === 3,
      Seq("text" -> concat(lit("U:"), col("text"))))
    val after = TxLog.snapshot(root).get
    // original files byte-identical (dv'd, not rewritten); new files appended
    val beforePaths = before.entries.map(e => (e.path, e.size)).toSet
    assert(before.entries.forall(e =>
      after.entries.exists(a => a.path == e.path && a.size == e.size)))
    assert(after.entries.exists(e => !beforePaths.contains((e.path, e.size))),
      "no replacement files appended")
    assert(after.entries.exists(_.dv.isDefined))
    val got = TxLog.read(spark, root)
    val want = docs.withColumn("text",
      when(col("doc_id") % 10 === 3, concat(lit("U:"), col("text")))
        .otherwise(col("text")))
    assert(got.count() === want.count())
    assert(got.agg(sum((col("doc_id") + 1) *
        length(col("text").cast("binary")))).head().getLong(0) ===
      want.agg(sum((col("doc_id") + 1) *
        length(col("text").cast("binary")))).head().getLong(0))
    // a retyping SET is refused loudly
    intercept[IllegalArgumentException] {
      TxLog.updateMoR(spark, root, col("doc_id") === 1,
        Seq("text" -> col("doc_id")))
    }
  }

  test("updateMoR feeds CDC: pre-image deletes + post-image inserts, incl. full-file turnover") {
    val root = freshRoot("dv-updcdc")
    import spark.implicits._
    // one 2-row file + one 3-row file; the update hits ALL rows of file A
    // (its entry DROPS — adds+removes in one commit, accepted via the
    // version-pinned cdc_rowlevel marker) and one row of file B
    TxLog.init(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    TxLog.appendOnce(spark, root, "b1",
      Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "s").coalesce(1))
    TxLog.updateMoR(spark, root, col("id") <= 3,
      Seq("s" -> upper(col("s"))))
    val feed = TxLog.readChanges(spark, root, 2L).cache()
    try {
      val del = feed.filter(col("_change_type") === "delete")
        .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val ins = feed.filter(col("_change_type") === "insert")
        .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(del.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
      assert(ins.toSeq === Seq((1L, "A"), (2L, "B"), (3L, "C")))
    } finally feed.unpersist()
    // and the table reads the post-images
    assert(TxLog.read(spark, root).filter(col("s") === "A").count() === 1L)
    assert(TxLog.read(spark, root).count() === 5L)
  }

  test("update_mode=mor routes updateWhere and SQL UPDATE; partition moves work") {
    val root = freshRoot("dv-updmode")
    val d = docs.withColumn("day", (col("doc_id") % 3).cast("int"))
    TxLog.initPartitioned(spark, root, d, Seq("day"), "")
    TxLog.setProperties(root, Map("update_mode" -> "mor"))
    val before = TxLog.snapshot(root).get.entries.map(_.path).toSet
    // partition-column assignment: matched rows MOVE to day=2
    TxLog.updateWhere(spark, root, col("doc_id") % 10 === 7,
      Seq("day" -> lit(2).cast("int")))
    val after = TxLog.snapshot(root).get
    assert(before.subsetOf(after.entries.map(_.path).toSet),
      "MoR-routed update rewrote original files")
    val got = TxLog.read(spark, root)
    val want = d.withColumn("day",
      when(col("doc_id") % 10 === 7, lit(2).cast("int")).otherwise(col("day")))
    assert(got.filter(col("day") === 2).count() ===
      want.filter(col("day") === 2).count())
    assert(got.count() === want.count())
    // SQL UPDATE takes the same path (no file rewritten)
    SqlSurface.TxSql.sql(spark,
      s"UPDATE txlog.`$root` SET text = 'SQLMOR' WHERE doc_id = 42")
    assert(TxLog.snapshot(root).get.entries.map(_.path).toSet
      .intersect(before) === before)
    assert(TxLog.read(spark, root)
      .filter(col("text") === "SQLMOR").count() ===
      d.filter(col("doc_id") === 42).count())
    // compaction purges everything back to a vector-free layout
    TxLog.compact(spark, root, targetFiles = 1)
    assert(TxLog.snapshot(root).get.entries.forall(_.dv.isEmpty))
    assert(TxLog.read(spark, root).count() === want.count())
  }

  test("beyond the broadcast budget the anti-join falls back to a shuffle join, still exact") {
    val root = freshRoot("dv-shuffle")
    TxLog.init(spark, root, docs.repartition(4))
    TxLog.deleteMoR(spark, root, col("doc_id") % 6 === 0)
    val want = docs.filter(col("doc_id") % 6 =!= 0)
    val prev = sys.props.get("graft.dv.broadcastRows")
    try {
      sys.props("graft.dv.broadcastRows") = "0"
      // past the budget we withhold the broadcast HINT; at test scale
      // Spark's auto-broadcast would still pick it (the positions frame
      // is tiny), so disable that too — at real scale a positions side
      // past the budget also exceeds autoBroadcastJoinThreshold
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val got = TxLog.read(spark, root)
        val plan = got.queryExecution.executedPlan.toString
        // the ANTI join must not broadcast (the positions frame itself
        // has no join: its keys come from a path → ordinal lookup)
        val antiLines = plan.linesIterator.filter(_.contains("LeftAnti")).toSeq
        assert(antiLines.nonEmpty)
        assert(antiLines.forall(!_.contains("BroadcastHashJoin")),
          s"expected non-broadcast anti-join:\n$plan")
        assert(got.count() === want.count())
        assert(got.agg(sum(col("doc_id"))).head().getLong(0) ===
          want.agg(sum(col("doc_id"))).head().getLong(0))
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.dv.broadcastRows") = v
        case None => sys.props.remove("graft.dv.broadcastRows")
      }
    }
  }

  test("WRITE-TIME sidecar budget: an above-budget MoR delete refuses " +
      "(no single-task sidecar write); property-routed delete() lands COW") {
    val root = freshRoot("dv-dvbudget")
    TxLog.init(spark, root, docs.repartition(4))
    val total = docs.count()
    def dvDirs() = Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty).filter(f =>
        f.isDirectory && f.getName.startsWith("dv-")).map(_.getName).toSet
    val prev = sys.props.get("graft.dv.broadcastRows")
    try {
      sys.props("graft.dv.broadcastRows") = "10"
      // under budget: victims ≤ 10 → the MoR path proceeds (the exact
      // count ran, since the free upper bound — whole-table rows — is
      // past the budget at this setting)
      val ids = docs.orderBy("doc_id").limit(5)
        .collect().map(_.getLong(0)).toSet
      TxLog.deleteMoR(spark, root, col("doc_id").isin(ids.toSeq: _*))
      assert(dvDirs().size === 1)
      assert(TxLog.read(spark, root).count() === total - 5)
      // above budget: a direct deleteMoR REFUSES — typed, loud, and
      // with zero sidecar dirs minted (the gate fires before any write)
      val before = dvDirs()
      val e = intercept[TxLog.MoRUnsupportedException] {
        TxLog.deleteMoR(spark, root, col("doc_id") % 2 === 0)
      }
      assert(e.getMessage.contains("sidecar budget"))
      assert(dvDirs() === before,
        "a budget refusal must not leave a staged sidecar dir")
      assert(TxLog.read(spark, root).count() === total - 5)
      // property-routed: the same statement through delete() lands as
      // copy-on-write — committed, correct, and still no new sidecar
      TxLog.setProperties(root, Map("delete_mode" -> "mor"))
      val v = TxLog.delete(spark, root, col("doc_id") % 2 === 0)
      assert(v > 0)
      assert(dvDirs() === before)
      val want = docs.filter(col("doc_id") % 2 =!= 0)
        .filter(!col("doc_id").isin(ids.toSeq: _*))
      assert(TxLog.read(spark, root).count() === want.count())
    } finally {
      prev match {
        case Some(v) => sys.props("graft.dv.broadcastRows") = v
        case None => sys.props.remove("graft.dv.broadcastRows")
      }
    }
  }

  test("aborted MoR attempts strand only vacuumable orphans: " +
      "listing-then-vacuum leaves exactly the manifest-referenced dirs") {
    val root = freshRoot("dv-dvorphan")
    import spark.implicits._
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "s")
    TxLog.init(spark, root, base.repartition(3))
    def dataDirs() = Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    val committed = dataDirs()
    // abort #1 — the WRITE-TIME budget refusal fires while the adds
    // staging future is in flight (replaceKeysMoR stages concurrently
    // with the victim jobs): the staged add-dir is the mid-commit orphan
    val prev = sys.props.get("graft.dv.broadcastRows")
    try {
      sys.props("graft.dv.broadcastRows") = "0"
      intercept[TxLog.MoRUnsupportedException] {
        TxLog.replaceKeysMoR(spark, root, "id", Seq(1L, 2L, 3L).toDF("id"),
          Seq((1L, "r1"), (2L, "r2")).toDF("id", "s"))
      }
    } finally prev match {
      case Some(v) => sys.props("graft.dv.broadcastRows") = v
      case None => sys.props.remove("graft.dv.broadcastRows")
    }
    // the abandoned staging job finishes in the background (its files
    // are invisible — no manifest references them); wait for its
    // _SUCCESS marker so the sweep below races nothing
    val deadline = System.currentTimeMillis() + 60000L
    def orphanSettled(): Boolean = (dataDirs() -- committed).nonEmpty &&
      (dataDirs() -- committed).forall(d =>
        new java.io.File(s"$root/data/$d/_SUCCESS").isFile)
    while (!orphanSettled() && System.currentTimeMillis() < deadline)
      Thread.sleep(100L)
    assert(orphanSettled(), "the aborted replaceKeysMoR never staged")
    // abort #2 — a writer that exhausts its CAS budget mid-commit,
    // leaving BOTH a staged add-dir and a written dv sidecar dir behind
    intercept[java.util.ConcurrentModificationException] {
      TxLog.withRetry[Long](root, maxAttempts = 1) { snapOpt =>
        val snap = snapOpt.get
        TxLog.stageAppend(spark, root,
          Seq((9001L, "x")).toDF("id", "s"), snap)
        Seq(("somefile", 0L)).toDF("f", "p").repartition(1)
          .write.parquet(s"$root/data/dv-abortedattempt")
        throw new java.util.ConcurrentModificationException(
          "synthetic CAS exhaustion mid-commit")
      }
    }
    val strandedN = (dataDirs() -- committed).size
    assert(strandedN >= 3, s"expected ≥3 orphan dirs, saw $strandedN")
    // the sweep: every orphan reclaimed, nothing referenced touched
    assert(TxLog.vacuum(root, graceMs = 0L) === strandedN)
    val referenced = TxLog.snapshot(root).get.entries.flatMap(e =>
      e.path.split("/").init.mkString("/") +:
        e.dv.map(_._1.split("/").init.mkString("/")).toSeq)
      .map(_.stripPrefix("data/")).toSet
    assert(dataDirs() === referenced,
      "post-vacuum listing must be exactly the manifest-referenced dirs")
    assert(dataDirs() === committed)
    assert(TxLog.read(spark, root).count() === 200L)
    assert(TxLog.vacuum(root, graceMs = 0L) === 0)
  }

  test("delete_mode=mor on a pre-manifest (adopted) table falls back to " +
      "copy-on-write; direct deleteMoR refuses with the typed exception") {
    val root = freshRoot("dv-adoptfb")
    import spark.implicits._
    (1L to 50L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").parquet(root)
    TxLog.adopt(spark, root)
    TxLog.setProperties(root, Map("delete_mode" -> "mor"))
    // the refusal is the TYPE, not a message substring
    intercept[TxLog.MoRUnsupportedException] {
      TxLog.deleteMoR(spark, root, col("id") <= 10L)
    }
    // ...but the property-routed path lands a copy-on-write delete
    TxLog.delete(spark, root, col("id") <= 10L)
    assert(TxLog.read(spark, root).count() === 40L)
    assert(TxLog.snapshot(root).get.entries.forall(_.dv.isEmpty))
  }

  test("update_mode=mor: a retyping SET falls back to copy-on-write instead of stranding") {
    val root = freshRoot("dv-retypefb")
    import spark.implicits._
    val base = (1L to 100L).map(i => (i, i.toInt)).toDF("id", "v")
    TxLog.init(spark, root, base.repartition(3))
    TxLog.setProperties(root, Map("update_mode" -> "mor"))
    // direct updateMoR still refuses loudly...
    intercept[IllegalArgumentException] {
      TxLog.updateMoR(spark, root, col("id") === 1,
        Seq("v" -> col("v").cast("long")))
    }
    // ...but the property-routed updateWhere (and thus SQL UPDATE) falls
    // back to the copy-on-write rewrite, which may retype (int -> long —
    // unmatched rows' ints coerce under the when/otherwise unification)
    TxLog.updateWhere(spark, root, col("id") % 2 === 0,
      Seq("v" -> (col("v").cast("long") * 10L)))
    val got = TxLog.read(spark, root)
    assert(got.schema("v").dataType === org.apache.spark.sql.types.LongType)
    assert(got.filter(col("id") % 2 === 0)
      .filter(col("v") =!= col("id") * 10L).count() === 0L)
    assert(got.filter(col("id") % 2 === 1)
      .filter(col("v") =!= col("id")).count() === 0L)
    assert(got.count() === 100L)
    // non-retyping updates keep taking the MoR path under the property
    val paths = TxLog.snapshot(root).get.entries.map(_.path).toSet
    TxLog.updateWhere(spark, root, col("id") === 3, Seq("v" -> lit(-3L)))
    assert(paths.subsetOf(TxLog.snapshot(root).get.entries.map(_.path).toSet),
      "non-retyping property-routed update rewrote files")
  }

  test("COW update after MoR delete: no resurrection, vectors purge on rewrite") {
    val root = freshRoot("dv-cowafter")
    TxLog.init(spark, root, docs.repartition(3))
    TxLog.deleteMoR(spark, root, col("doc_id") % 4 === 0)
    // an UPDATE whose rewrite touches dv'd files must apply the vectors
    // before restaging — a resurrected %4 row would surface here
    TxLog.updateWhere(spark, root, col("doc_id") % 4 === 1,
      Seq("text" -> lit("UPDATED")))
    val got = TxLog.read(spark, root)
    val want = docs.filter(col("doc_id") % 4 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 4 === 1, lit("UPDATED")).otherwise(col("text")))
    assert(got.count() === want.count())
    assert(got.filter(col("doc_id") % 4 === 0).count() === 0L)
    assert(got.filter(col("text") === "UPDATED").count() ===
      want.filter(col("text") === "UPDATED").count())
  }

  test("replaceKeysMoR: keyed delete + append land in ONE version, equal to the two-commit form") {
    import spark.implicits._
    val root = freshRoot("dv-replace")
    TxLog.init(spark, root, docs.repartition(4))
    val v0 = TxLog.currentVersion(root)
    // re-state docs %5==0 with edited text, and mint one brand-new id
    val keys = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
      .unionByName(Seq(999999L).toDF("doc_id"))
    val adds = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" RESTATED")))
      .unionByName(Seq((999999L, "fresh", "en")).toDF("doc_id", "text", "lang"))
    val v = TxLog.replaceKeysMoR(spark, root, "doc_id", keys, adds,
      kvFn = _ => Map("mark" -> "1"))
    // atomicity: exactly one version advanced, kv landed with it
    assert(v === v0 + 1)
    assert(TxLog.currentVersion(root) === v0 + 1)
    assert(TxLog.kvOf(TxLog.snapshot(root).get.notes).get("mark") === Some("1"))
    // content: identical to delete-then-append run on a twin table
    val twin = freshRoot("dv-replace-twin")
    TxLog.init(spark, twin, docs.repartition(4))
    TxLog.deleteMoRKeys(spark, twin, "doc_id", keys)
    TxLog.commitAppend(spark, twin, adds, TxLog.currentVersion(twin))
    val got = TxLog.read(spark, root).orderBy("doc_id", "text")
      .collect().map(_.toSeq).toSeq
    val want = TxLog.read(spark, twin).orderBy("doc_id", "text")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(TxLog.read(spark, root)
      .filter(col("text").endsWith("RESTATED")).count() ===
      docs.filter(col("doc_id") % 5 === 0).count())
    // no key matches at all: still one commit, adds still land
    val v2 = TxLog.replaceKeysMoR(spark, root, "doc_id",
      Seq(-1L).toDF("doc_id"),
      Seq((888888L, "only-add", "en")).toDF("doc_id", "text", "lang"))
    assert(v2 === v + 1)
    assert(TxLog.read(spark, root)
      .filter(col("doc_id") === 888888L).count() === 1L)
  }

  test("positions key on the file as well as the row index: files sharing " +
      "deleted row indices keep their own rows, broadcast and shuffled") {
    val root = freshRoot("dv-ordinal")
    // three 100-row files, ids 100k + i at row index i of file k, so
    // every file holds the same row indices
    TxLog.init(spark, root, spark.range(0L, 300L, 1L, 3).toDF("id"))
    assert(TxLog.snapshot(root).get.entries.size === 3)
    def victims(k: Long) =
      col("id") >= 100L * k && col("id") < 100L * (k + 1) && col("id") % 10 === 3
    def ids = TxLog.read(spark, root).collect().map(_.getLong(0)).toSet
    def check(deleted: Set[Long]): Unit = {
      val want = (0L until 300L).toSet -- deleted
      assert(ids === want)
      val prev = sys.props.get("graft.dv.broadcastRows")
      try {
        sys.props("graft.dv.broadcastRows") = "0"
        withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          assert(!TxLog.read(spark, root).queryExecution.executedPlan.toString
            .linesIterator.exists(l => l.contains("LeftAnti") && l.contains("Broadcast")))
          assert(ids === want)
        }
      } finally prev match {
        case Some(v) => sys.props("graft.dv.broadcastRows") = v
        case None => sys.props.remove("graft.dv.broadcastRows")
      }
    }
    // the middle file alone: its neighbours keep row indices 3, 13, ...
    TxLog.deleteMoR(spark, root, victims(1))
    assert(TxLog.snapshot(root).get.entries.count(_.dv.isDefined) === 1)
    val mid = (100L until 200L).filter(_ % 10 == 3).toSet
    check(mid)
    // then the last file at the same indices, through its own sidecar
    TxLog.deleteMoR(spark, root, victims(2))
    assert(TxLog.snapshot(root).get.entries.count(_.dv.isDefined) === 2)
    check(mid ++ (200L until 300L).filter(_ % 10 == 3))
  }
}
