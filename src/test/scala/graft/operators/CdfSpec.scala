package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Row-level change feed ([[TxLog.readChanges]]): inserts from appends,
  * deletes from deletion-vector position diffs and pure-remove commits,
  * resurrections from dv shrinks (restore) — plus, since round 13,
  * CHANGE ATTRIBUTION through every rewrite commit: maintenance
  * rewrites are invisible (`cdc_noop`), `change_feed=true` tables get
  * exact commit-time change files from COW DML/upserts (`cdc_files`),
  * everything else attributes coarsely-but-exactly from the manifest
  * diff (`cdc_full`). Only unmarked pre-attribution history refuses. */
class CdfSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  test("append-only range: every appended row surfaces as an insert") {
    val root = freshRoot("cdf-append")
    import spark.implicits._
    TxLog.init(spark, root, docs)
    val b1 = Seq((2000001L, "x"), (2000002L, "y")).toDF("doc_id", "text")
    TxLog.appendOnce(spark, root, "b1", b1)
    val b2 = Seq((2000003L, "z")).toDF("doc_id", "text")
    TxLog.appendOnce(spark, root, "b2", b2)
    val feed = TxLog.readChanges(spark, root, 1L)
    assert(feed.filter(col("_change_type") =!= "insert").count() === 0L)
    assert(feed.filter(col("_commit_version") === 2L).count() === 2L)
    assert(feed.filter(col("_commit_version") === 3L).count() === 1L)
    assert(feed.select("doc_id").collect().map(_.getLong(0)).sorted ===
      Array(2000001L, 2000002L, 2000003L))
  }

  test("MoR delete: exactly the victim ROWS surface as deletes") {
    val root = freshRoot("cdf-delete")
    TxLog.init(spark, root, docs.repartition(4))
    TxLog.deleteMoR(spark, root, col("doc_id") % 7 === 0)
    val feed = TxLog.readChanges(spark, root, 1L)
    val want = docs.filter(col("doc_id") % 7 === 0)
    assert(feed.filter(col("_change_type") === "delete").count() === want.count())
    assert(feed.filter(col("_change_type") === "insert").count() === 0L)
    // the deleted PAYLOAD is byte-exact, not just counted
    assert(feed.agg(sum((col("doc_id") + 1) *
        length(col("text").cast("binary")))).head().getLong(0) ===
      want.agg(sum((col("doc_id") + 1) *
        length(col("text").cast("binary")))).head().getLong(0))
    assert(feed.select("_commit_version").distinct().head().getLong(0) === 2L)
  }

  test("replaceKeysMoR: ONE commit reads as pre-image deletes + " +
      "post-image inserts (textbook CDC, no attribution marker needed)") {
    import spark.implicits._
    val root = freshRoot("cdf-replace")
    TxLog.init(spark, root, docs.repartition(4))
    // atomically re-state every %5 doc with edited text + mint one new id
    val keys = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
      .unionByName(Seq(990001L).toDF("doc_id"))
    val adds = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" V2")))
      .unionByName(Seq((990001L, "fresh")).toDF("doc_id", "text"))
    TxLog.replaceKeysMoR(spark, root, "doc_id", keys, adds)
    val feed = TxLog.readChanges(spark, root, 1L)
    val replaced = docs.filter(col("doc_id") % 5 === 0)
    // deletes = exactly the DV'd pre-images; inserts = exactly the adds
    val dels = feed.filter(col("_change_type") === "delete")
    val ins = feed.filter(col("_change_type") === "insert")
    assert(dels.count() === replaced.count())
    assert(ins.count() === replaced.count() + 1)
    assert(dels.filter(col("text").endsWith(" V2")).count() === 0L,
      "deletes carry PRE-images")
    assert(ins.filter(col("doc_id") =!= 990001L)
      .filter(!col("text").endsWith(" V2")).count() === 0L,
      "inserts carry POST-images")
    assert(feed.select("_commit_version").distinct().head().getLong(0) === 2L,
      "the whole replace is ONE feed version")
    // and a downstream index sync folds it exactly (the d17 machinery):
    // no attribution marker is needed because the commit's added files
    // hold only post-image rows and its removals are dv position diffs
    val kv = TxLog.kvOf(TxLog.snapshot(root).get.notes)
    assert(!kv.contains("cdc_full"), "no coarse marker on the MoR replace")
  }

  test("mixed range: appends then a delete hitting both vintages") {
    val root = freshRoot("cdf-mixed")
    import spark.implicits._
    TxLog.init(spark, root, docs)
    val ins = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    TxLog.appendOnce(spark, root, "b1", ins)
    TxLog.deleteMoR(spark, root, col("doc_id") % 13 === 0)
    val feed = TxLog.readChanges(spark, root, 1L).cache()
    try {
      val inserts = feed.filter(col("_change_type") === "insert")
      val deletes = feed.filter(col("_change_type") === "delete")
      assert(inserts.count() === ins.count())
      // victims come from BOTH the original files and the appended one
      val all = docs.unionByName(ins)
      assert(deletes.count() === all.filter(col("doc_id") % 13 === 0).count())
      assert(deletes.filter(col("doc_id") >= 1000000L).count() ===
        ins.filter(col("doc_id") % 13 === 0).count())
    } finally feed.unpersist()
  }

  test("full-file MoR drop surfaces the file's live rows as deletes") {
    val root = freshRoot("cdf-drop")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    TxLog.appendOnce(spark, root, "b1",
      Seq((3L, "c")).toDF("id", "s").coalesce(1))
    // delete the whole appended file: its entry DROPS (pure remove)
    TxLog.deleteMoR(spark, root, col("id") === 3L)
    val feed = TxLog.readChanges(spark, root, 2L)
    assert(feed.filter(col("_change_type") === "delete")
      .select("id").head().getLong(0) === 3L)
    assert(feed.count() === 1L)
  }

  test("restore across a MoR delete surfaces resurrected rows as inserts") {
    val root = freshRoot("cdf-restore")
    TxLog.init(spark, root, docs.repartition(4))
    TxLog.deleteMoR(spark, root, col("doc_id") % 11 === 0)
    TxLog.restore(spark, root, 1L)
    val feed = TxLog.readChanges(spark, root, 2L)
    val want = docs.filter(col("doc_id") % 11 === 0)
    assert(feed.filter(col("_change_type") === "insert").count() === want.count())
    assert(feed.filter(col("_change_type") === "delete").count() === 0L)
    // and the whole range nets out: delete at v2, resurrect at v3
    val whole = TxLog.readChanges(spark, root, 1L)
    assert(whole.filter(col("_change_type") === "delete").count() === want.count())
    assert(whole.filter(col("_change_type") === "insert").count() === want.count())
  }

  test("COW rewrite WITHOUT change_feed attributes coarsely (cdc_full): " +
      "exact events incl. survivor churn, never a refusal") {
    val root = freshRoot("cdf-coarse")
    TxLog.init(spark, root, docs.repartition(4))
    TxLog.setProperties(root, Map("owner" -> "cdf-test"))
    assert(TxLog.readChanges(spark, root, 1L).count() === 0L)
    TxLog.updateWhere(spark, root, col("doc_id") % 10 === 0,
      Seq("text" -> lit("UPDATED")))
    val feed = TxLog.readChanges(spark, root, 2L).cache()
    try {
      // coarse = full-diff: every rewritten row appears as delete(pre) +
      // insert(post); the NET state the feed implies is exactly the table
      val n = docs.count()
      assert(feed.filter(col("_change_type") === "delete").count() === n)
      assert(feed.filter(col("_change_type") === "insert").count() === n)
      assert(feed.filter(col("_change_type") === "insert")
        .filter(col("text") === "UPDATED").count() ===
        docs.filter(col("doc_id") % 10 === 0).count())
      // pre-images carry the ORIGINAL payload
      assert(feed.filter(col("_change_type") === "delete")
        .filter(col("text") === "UPDATED").count() === 0L)
    } finally feed.unpersist()
  }

  test("precise feed rows and change files stay flat as the table grows " +
      "8×; the coarse cdc_full feed grows with the rewritten files") {
    val nFiles = 4
    // one matched row per file (id % rowsPerFile == 0): the same matched
    // count in every file at both sizes. Returns (precise feed rows,
    // change files written, coarse feed rows).
    def feeds(rowsPerFile: Long): (Long, Int, Long) = {
      def table(tag: String): String = {
        val root = freshRoot(s"cdf-scale-$tag-$rowsPerFile")
        TxLog.init(spark, root, spark.range(0L, nFiles * rowsPerFile, 1L, nFiles)
          .toDF("id").withColumn("s", concat(lit("v"), col("id").cast("string"))))
        root
      }
      def update(root: String): Unit = TxLog.updateWhere(spark, root,
        col("id") % rowsPerFile === 0, Seq("s" -> lit("U")))
      val precise = table("precise")
      TxLog.setProperties(precise, Map("change_feed" -> "true")) // v2
      update(precise)                                              // v3
      val coarse = table("coarse")
      update(coarse)                                               // v2
      val changeFiles = new java.io.File(s"$precise/data").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cdc-"))
        .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
      (TxLog.readChanges(spark, precise, 2L, 3L).count(), changeFiles,
        TxLog.readChanges(spark, coarse, 1L, 2L).count())
    }
    val rows = 250L
    val (preciseRows, changeFiles, coarseRows) = feeds(rows)
    val (preciseRows8, changeFiles8, coarseRows8) = feeds(8 * rows)
    // pre + post image of each matched row, at both sizes
    assert(preciseRows === 2L * nFiles && preciseRows8 === preciseRows)
    assert(changeFiles === 1 && changeFiles8 === 1)
    // coarse: pre + post image of every row of every rewritten file
    assert(coarseRows === 2L * nFiles * rows)
    assert(coarseRows8 === 8L * coarseRows)
  }

  test("change_feed=true: COW UPDATE/DELETE write exact commit-time " +
      "change files — only the changed rows surface") {
    val root = freshRoot("cdf-precise")
    TxLog.init(spark, root, docs.repartition(4))
    TxLog.setProperties(root, Map("change_feed" -> "true"))
    TxLog.updateWhere(spark, root, col("doc_id") % 10 === 0,
      Seq("text" -> lit("UPDATED")))
    val matched = docs.filter(col("doc_id") % 10 === 0)
    val upd = TxLog.readChanges(spark, root, 2L, 3L).cache()
    try {
      assert(upd.count() === 2L * matched.count(),
        "exactly pre+post of the matched rows — no survivor churn")
      assert(upd.filter(col("_change_type") === "delete").count() ===
        matched.count())
      assert(upd.filter(col("_change_type") === "delete")
        .agg(sum("doc_id")).head().getLong(0) ===
        matched.agg(sum("doc_id")).head().getLong(0))
      assert(upd.filter(col("_change_type") === "insert")
        .filter(col("text") =!= "UPDATED").count() === 0L)
    } finally upd.unpersist()
    // COW DELETE under the same property: victims only
    TxLog.delete(spark, root, col("doc_id") % 10 === 0)
    val del = TxLog.readChanges(spark, root, 3L, 4L)
    assert(del.filter(col("_change_type") === "insert").count() === 0L)
    assert(del.count() === matched.count())
    // the change files live under data/cdc-* and are manifest-protected
    val cdcDirs = new java.io.File(s"$root/data").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cdc-"))
    assert(cdcDirs.length === 2)
    TxLog.vacuum(root, graceMs = 0L)
    assert(new java.io.File(s"$root/data").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("cdc-")) === 2,
      "vacuum must protect change files while their manifest is retained")
    assert(TxLog.readChanges(spark, root, 2L, 4L).count() === 3L * matched.count())
  }

  test("change files age out with their manifest: carried-forward marker " +
      "copies are stripped, pruneHistory + vacuum reclaims the dir") {
    val root = freshRoot("cdf-age")
    import spark.implicits._
    TxLog.init(spark, root, (0L until 100L).map(k => (k, s"v$k")).toDF("id", "s"))
    TxLog.setProperties(root, Map("change_feed" -> "true"))
    TxLog.updateWhere(spark, root, col("id") % 10 === 0,
      Seq("s" -> lit("U")))                                   // v3 + cdc dir
    TxLog.appendOnce(spark, root, "b",
      Seq((500L, "x")).toDF("id", "s"))                       // v4
    // the marker lives in manifest v3 ONLY — later manifests must not
    // carry a stale copy (it would over-protect the dir forever)
    assert(TxLog.kvOf(TxLog.snapshot(root).get.notes).get("cdc_files").isEmpty,
      "a stale cdc_files copy must not ride forward in the note set")
    // while v3 is retained the dir is protected and the feed reads it
    TxLog.vacuum(root, graceMs = 0L)
    assert(TxLog.readChanges(spark, root, 2L, 3L).count() === 20L)
    def cdcDirs() = Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty)
      .count(d => d.isDirectory && d.getName.startsWith("cdc-"))
    assert(cdcDirs() === 1)
    // prune v3 away: the dir loses its last reference and vacuum takes it
    TxLog.pruneHistory(root, keepLast = 1)
    TxLog.vacuum(root, graceMs = 0L)
    assert(cdcDirs() === 0,
      "an unreferenced change dir must reclaim with its pruned manifest")
    assert(TxLog.read(spark, root).count() === 101L)
  }

  test("maintenance rewrites (compact / OPTIMIZE z-order) are INVISIBLE " +
      "to the change feed") {
    val root = freshRoot("cdf-noop")
    TxLog.init(spark, root, docs.repartition(8))
    TxLog.deleteMoR(spark, root, col("doc_id") % 7 === 0) // v2: real deletes
    TxLog.compact(spark, root, 2)                          // v3: purges dvs
    TxLog.cluster(spark, root, Seq("doc_id"), 2)           // v4: layout only
    val want = docs.filter(col("doc_id") % 7 === 0)
    // each maintenance version alone: empty feed
    assert(TxLog.readChanges(spark, root, 2L, 3L).count() === 0L)
    assert(TxLog.readChanges(spark, root, 3L, 4L).count() === 0L)
    // the whole range: exactly the MoR delete's events, nothing else
    val feed = TxLog.readChanges(spark, root, 1L)
    assert(feed.filter(col("_change_type") === "delete").count() === want.count())
    assert(feed.count() === want.count())
  }

  test("upsert with change_feed: replaced rows are pre-image deletes, " +
      "the batch post-image inserts") {
    val root = freshRoot("cdf-upsert")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    TxLog.setProperties(root, Map("change_feed" -> "true"))
    TxLog.upsert(spark, root,
      Seq((2L, "B"), (4L, "d")).toDF("id", "s"), "id")
    val feed = TxLog.readChanges(spark, root, 2L, 3L)
    val got = feed.select("_change_type", "id", "s")
      .as[(String, Long, String)].collect().sorted
    assert(got === Array(("delete", 2L, "b"), ("insert", 2L, "B"),
      ("insert", 4L, "d")))
  }

  test("conditional MERGE on a change_feed table: exactly the fired " +
      "clauses' rows surface, no carried-row churn") {
    val root = freshRoot("cdf-cmerge")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s"))
    TxLog.setProperties(root, Map("change_feed" -> "true"))
    TxLog.mergeInto(spark, root,
      Seq((1L, "A"), (2L, "kill"), (9L, "new")).toDF("id", "s"), "id",
      matched = Seq(
        TxLog.MergeClause(Some(col("src.s") === "kill"), TxLog.MergeDelete),
        TxLog.MergeClause(None, TxLog.MergeUpdate())),
      notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)))
    val feed = TxLog.readChanges(spark, root, 2L, 3L)
      .select("_change_type", "id", "s").as[(String, Long, String)]
      .collect().sorted
    // update 1 → pre+post; delete 2 → pre; insert 9 → post; rows 3 and 4
    // were carried and must NOT appear (precise, not coarse)
    assert(feed === Array(
      ("delete", 1L, "a"), ("delete", 2L, "b"),
      ("insert", 1L, "A"), ("insert", 9L, "new")))
    assert(TxLog.read(spark, root).select("id").as[Long].collect().sorted
      === Array(1L, 3L, 4L, 9L))
  }

  test("unmarked pre-attribution mixed commits still refuse loudly") {
    val root = freshRoot("cdf-legacy")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxLog.updateWhere(spark, root, col("id") === 1L, Seq("s" -> lit("A")))
    // simulate a pre-r13 manifest: strip the attribution marker from v2
    val p = java.nio.file.Paths.get(
      s"$root/_txlog/v-${"%020d".format(2)}")
    val lines = java.nio.file.Files.readAllLines(p)
    val stripped = new java.util.ArrayList[String]()
    lines.forEach(l => if (!l.startsWith("n\tkv:cdc_")) stripped.add(l))
    java.nio.file.Files.delete(p)
    java.nio.file.Files.write(p, stripped)
    val ex = intercept[IllegalArgumentException] {
      TxLog.readChanges(spark, root, 1L).count()
    }
    assert(ex.getMessage.contains("no attribution marker"))
    // a sub-range BEFORE the rewrite still reads
    assert(TxLog.readChanges(spark, root, 1L, 1L).count() === 0L)
  }

  test("column mapping: the feed speaks logical names across a rename") {
    val root = freshRoot("cdf-mapping")
    import spark.implicits._
    TxLog.init(spark, root, docs)
    TxLog.renameColumn(spark, root, "text", "body")
    TxLog.appendOnce(spark, root, "b1",
      Seq((3000001L, "new")).toDF("doc_id", "body"))
    TxLog.deleteMoR(spark, root, col("doc_id") === 3000001L)
    val feed = TxLog.readChanges(spark, root, 2L)
    assert(feed.columns.contains("body") && !feed.columns.contains("text"))
    assert(feed.filter(col("_change_type") === "insert")
      .select("body").head().getString(0) === "new")
    assert(feed.filter(col("_change_type") === "delete")
      .select("body").head().getString(0) === "new")
  }

  test("empty range returns a schema-correct empty feed") {
    val root = freshRoot("cdf-empty")
    TxLog.init(spark, root, docs)
    val feed = TxLog.readChanges(spark, root, 1L, 1L)
    assert(feed.count() === 0L)
    assert(feed.columns.contains("_change_type") &&
      feed.columns.contains("_commit_version"))
  }

  test("stale-marker strip matches the four exact marker keys only: a " +
      "user property in the cdc_ namespace survives later commits") {
    val root = freshRoot("cdf-cdcns")
    import spark.implicits._
    TxLog.init(spark, root, docs)
    // a numeric-leading user value under a cdc_-prefixed key — NOT one
    // of the four attribution markers; the old prefix-match strip would
    // have silently deleted it at the next publish
    TxLog.setProperties(root, Map("cdc_retention_days" -> "30"))
    TxLog.appendOnce(spark, root, "b1",
      Seq((9000001L, "x")).toDF("doc_id", "text"))
    TxLog.updateWhere(spark, root, col("doc_id") === 9000001L,
      Seq("text" -> lit("y"))) // rewrite commit: exercises the strip
    val kv = TxLog.kvOf(TxLog.snapshot(root).get.notes)
    assert(kv.get("cdc_retention_days").contains("30"),
      s"user cdc_-namespace property was swept: $kv")
    // the REAL markers still strip: the update's own marker is pinned to
    // its version and no stale copy rides into later manifests
    TxLog.appendOnce(spark, root, "b2",
      Seq((9000002L, "z")).toDF("doc_id", "text"))
    val kv2 = TxLog.kvOf(TxLog.snapshot(root).get.notes)
    assert(!kv2.contains("cdc_full") && !kv2.contains("cdc_files"),
      s"stale attribution marker carried forward: $kv2")
    assert(kv2.get("cdc_retention_days").contains("30"))
  }
}
