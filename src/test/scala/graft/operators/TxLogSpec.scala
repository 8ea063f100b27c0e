package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The snapshot-isolation contract of the versioned-manifest log:
  * old-or-new-never-a-mix for readers concurrent with writers (with NO
  * refreshByPath anywhere), exactly-one-CAS-winner per version, pinned
  * time travel, effectively-once folds safe under concurrent folders,
  * and vacuum sweeping only unreachable data. */
class TxLogSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  test("init/read roundtrip and version pinning (time travel)") {
    val root = freshRoot("txlog-pin")
    val v1 = TxLog.init(spark, root, docs)
    assert(v1 === 1L)
    val n = docs.count()
    assert(TxLog.read(spark, root).count() === n)

    // pin v1's PLAN before any further commit...
    val pinned = TxLog.read(spark, root, 1L)

    val v2 = TxLog.delete(spark, root, col("doc_id") % 2 === 0)
    assert(v2 === 2L)
    // ...new readers see v2, the pinned plan still evaluates to v1 —
    // no refreshByPath, no cache fiddling, purely immutable files
    assert(TxLog.read(spark, root).count() === docs.filter(col("doc_id") % 2 =!= 0).count())
    assert(pinned.count() === n)
    assert(TxLog.read(spark, root, 1L).count() === n)
    assert(TxLog.currentVersion(root) === 2L)
  }

  test("upsert merges by key transactionally") {
    val root = freshRoot("txlog-upsert")
    TxLog.init(spark, root, docs)
    val batch = docs.filter(col("doc_id") < 10)
      .withColumn("text", lit("REPLACED"))
      .unionByName(spark.range(1).select(lit(999999L).as("doc_id"), lit("NEW").as("text")))
    val v = TxLog.upsert(spark, root, batch, "doc_id")
    assert(v === 2L)
    val after = TxLog.read(spark, root)
    val expected = docs.filter(col("doc_id") >= 10).unionByName(batch)
    assert(after.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(after).count() === 0)
  }

  test("exactly one CAS winner per version; loser's data is vacuum-able") {
    val root = freshRoot("txlog-cas")
    TxLog.init(spark, root, docs.limit(100))
    val snap = TxLog.snapshot(root).get
    // writer A wins version 2
    TxLog.commitOverwrite(spark, root, docs.limit(50), snap.version, "winner")
    // writer B, still holding the stale snapshot, must fail having
    // published nothing — and its staged files must be unreachable
    val e = intercept[java.util.ConcurrentModificationException] {
      TxLog.commitOverwrite(spark, root, docs.limit(10), snap.version, "loser")
    }
    assert(e.getMessage.contains("stale"))
    assert(TxLog.read(spark, root).count() === 50)
    // (the cdc attribution marker rides as a kv: note — tags only here)
    assert(TxLog.snapshot(root).get.notes
      .filterNot(_.startsWith("kv:")) === Set("winner"))
    // loser staged one orphan data dir; winner+v1 dirs stay referenced.
    // Default-grace vacuum refuses the fresh orphan (it could be an
    // in-flight commit); only the ungraced maintenance sweep takes it.
    assert(TxLog.vacuum(root) === 0)
    assert(TxLog.vacuum(root, graceMs = 0L) === 1)
    assert(TxLog.read(spark, root).count() === 50)
    assert(TxLog.read(spark, root, 1L).count() === 100)
  }

  test("reader concurrent with a storm of commits sees one version, never a mix") {
    val root = freshRoot("txlog-race")
    // every version's rows all carry that version's tag: a mixed read
    // would surface as >1 distinct tag or a count/tag mismatch
    def tagged(tag: Long) = spark.range(200).select(
      col("id").as("doc_id"), lit(tag).as("tag"))
    TxLog.init(spark, root, tagged(1))
    @volatile var writerDone = false
    val writer = new Thread(() => {
      try (2 to 12).foreach { k =>
        TxLog.withRetry(root) { snapOpt =>
          Some(TxLog.commitOverwrite(spark, root, tagged(k), snapOpt.get.version))
        }
      } finally writerDone = true
    })
    writer.start()
    var reads = 0
    try {
      while (!writerDone) {
        val rows = TxLog.read(spark, root).select("tag").distinct().collect()
        assert(rows.length === 1, s"mixed snapshot: ${rows.mkString(",")}")
        reads += 1
      }
    } finally writer.join()
    assert(reads > 0)
    assert(TxLog.read(spark, root).select("tag").head.getLong(0) === 12L)
    assert(TxLog.currentVersion(root) === 12L)
  }

  test("foldOnce is effectively-once, including under concurrent folders") {
    val root = freshRoot("txlog-fold")
    def foldBatch(tag: String, rows: Long): Boolean =
      TxLog.foldOnce(spark, root, tag, {
        case None => spark.range(rows).select(col("id").as("v"))
        case Some(cur) => cur.unionByName(spark.range(rows).select(col("id").as("v")))
      })
    assert(foldBatch("b0", 10))
    assert(!foldBatch("b0", 10)) // replay no-op
    assert(TxLog.read(spark, root).count() === 10)

    // two DIFFERENT tags folded from racing threads: CAS loser retries
    // against fresh state — both batches land exactly once
    val t1 = new Thread(() => assert(foldBatch("b1", 5)))
    val t2 = new Thread(() => assert(foldBatch("b2", 7)))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(TxLog.read(spark, root).count() === 22)
    assert(TxLog.snapshot(root).get.notes
      .filterNot(_.startsWith("kv:")) === Set("b0", "b1", "b2"))
  }

  test("delete keeps NULL-predicate rows (SQL DELETE semantics)") {
    val root = freshRoot("txlog-delnull")
    // score: 1, 2, NULL — DELETE WHERE score > 1 removes only the 2;
    // the NULL row is not matched, so it SURVIVES
    val t = spark.sql(
      "SELECT * FROM VALUES (1L, 1), (2L, 2), (3L, CAST(NULL AS INT)) AS t(doc_id, score)")
    TxLog.init(spark, root, t)
    TxLog.delete(spark, root, col("score") > 1)
    val left = TxLog.read(spark, root).orderBy("doc_id").collect()
    assert(left.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(left(1).isNullAt(1))
  }

  test("vacuum racing an in-flight commit: grace window protects the staging") {
    val root = freshRoot("txlog-vacrace")
    TxLog.init(spark, root, docs.limit(20))
    // writer whose stageData is artificially slow: each row sleeps, so the
    // data/c-* dir exists unreferenced for ~a second before publish
    val slow = org.apache.spark.sql.functions.udf { (id: Long) => Thread.sleep(150L); id }
    val batch = spark.range(8).repartition(1)
      .select(slow(col("id")).as("doc_id"), lit("slow").as("text"))
    @volatile var committed = -1L
    val writer = new Thread(() => {
      committed = TxLog.commitAppend(spark, root, batch, expected = 1L)
    })
    writer.start()
    // hammer default-grace vacuum the whole time the staging is in flight
    var swept = 0
    while (writer.isAlive) { swept += TxLog.vacuum(root); Thread.sleep(20L) }
    writer.join()
    assert(swept === 0, "vacuum must not sweep an in-flight staging")
    assert(committed === 2L)
    // the published version is fully readable — no manifest-references-
    // missing-files corruption
    assert(TxLog.read(spark, root).count() === 28)
    assert(TxLog.read(spark, root).filter(col("text") === "slow").count() === 8)
  }

  test("concurrent initializers: loser gets retryable CME, withRetry absorbs it") {
    val root = freshRoot("txlog-initrace")
    TxLog.init(spark, root, docs.limit(5))
    // direct re-init now fails RETRYABLY (CME, not IllegalArgument) so a
    // withRetry writer that raced another initializer re-reads instead of dying
    intercept[java.util.ConcurrentModificationException] {
      TxLog.init(spark, root, docs.limit(5))
    }
    // the real path: two upserters race an uninitialized table — both land
    val root2 = freshRoot("txlog-initrace2")
    def batch(tag: String) = spark.range(3)
      .select(concat(lit(tag), col("id")).as("doc_id"), lit(tag).as("text"))
    val ts = Seq("a", "b").map(t => new Thread(() =>
      TxLog.upsert(spark, root2, batch(t), "doc_id")))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(TxLog.read(spark, root2).count() === 6)
    assert(TxLog.currentVersion(root2) === 2L)
  }

  test("appendOnce is effectively-once; streamingSink lands each micro-batch exactly once") {
    val root = freshRoot("txlog-sink")
    // appendOnce: the replay ledger rides the manifest
    assert(TxLog.appendOnce(spark, root, "b0", spark.range(5).toDF("v")))
    assert(!TxLog.appendOnce(spark, root, "b0", spark.range(5).toDF("v")))
    assert(TxLog.appendOnce(spark, root, "b1", spark.range(5, 8).toDF("v")))
    assert(TxLog.read(spark, root).count() === 8)
    assert(TxLog.currentVersion(root) === 2L)

    // streamingSink: one staged file per micro-batch through a real
    // file-source stream; final table = every row exactly once
    val root2 = freshRoot("txlog-sink2")
    val inDir = s"$root2-in"
    new java.io.File(inDir).mkdirs()
    (0 until 4).foreach { b =>
      val tmp = s"$inDir-tmp-$b"
      spark.range(b * 10, b * 10 + 10).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/b-$b.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    val stream = spark.readStream
      .schema(spark.range(1).toDF("v").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    val q = TxLog.streamingSink(stream, root2, s"$root2-chk")
    q.awaitTermination(120000)
    val got = TxLog.read(spark, root2).collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 40L))
    // one committed version per micro-batch; the ledger is ONE
    // high-water note, not one note per batch (O(1) manifest metadata
    // after any number of micro-batches)
    assert(TxLog.currentVersion(root2) === 4L)
    assert(TxLog.snapshot(root2).get.notes === Set("hw:batch:3"))
    // a manual replay of an already-committed batch no-ops (the
    // at-least-once redelivery path foreachBatch can take after a crash)
    assert(!TxLog.appendOnceMonotone(spark, root2, "batch", 2L, spark.range(3).toDF("v")))
    assert(TxLog.read(spark, root2).count() === 40)
  }

  test("monotone ledger: O(1) high-water note, replays no-op, legacy per-tag ledgers interop") {
    val root = freshRoot("txlog-hw")
    (0 until 15).foreach { k =>
      assert(TxLog.appendOnceMonotone(spark, root, "s", k.toLong,
        spark.range(k * 10, k * 10 + 10).toDF("v")))
    }
    val snap = TxLog.snapshot(root).get
    assert(snap.notes === Set("hw:s:14"), s"ledger grew: ${snap.notes}")
    assert(TxLog.read(spark, root).count() === 150)
    // replays at and below the high-water no-op, including the earliest
    assert(!TxLog.appendOnceMonotone(spark, root, "s", 14L, spark.range(3).toDF("v")))
    assert(!TxLog.appendOnceMonotone(spark, root, "s", 0L, spark.range(3).toDF("v")))
    // an independent stream on the SAME table keeps its own high-water
    assert(TxLog.appendOnceMonotone(spark, root, "other", 0L, spark.range(1000, 1005).toDF("v")))
    assert(TxLog.snapshot(root).get.notes === Set("hw:s:14", "hw:other:0"))
    // legacy interop: a log whose ledger was written per-tag (appendOnce)
    val root2 = freshRoot("txlog-hw-legacy")
    (0 to 2).foreach { k =>
      TxLog.appendOnce(spark, root2, s"batch-$k", spark.range(k * 5, k * 5 + 5).toDF("v"))
    }
    // a replayed LEGACY id no-ops through the monotone path...
    assert(!TxLog.appendOnceMonotone(spark, root2, "batch", 2L, spark.range(3).toDF("v")))
    // ...and the first NEW monotone commit folds the implied legacy tags
    assert(TxLog.appendOnceMonotone(spark, root2, "batch", 3L, spark.range(15, 20).toDF("v")))
    assert(TxLog.snapshot(root2).get.notes === Set("hw:batch:3"))
    assert(TxLog.read(spark, root2).count() === 20)
    // ad-hoc non-numeric tags survive the fold
    TxLog.appendOnce(spark, root2, "manual-backfill", spark.range(100, 101).toDF("v"))
    assert(TxLog.appendOnceMonotone(spark, root2, "batch", 4L, spark.range(20, 25).toDF("v")))
    assert(TxLog.snapshot(root2).get.notes === Set("hw:batch:4", "manual-backfill"))
  }

  test("checkpoint bounds metadata cost: snapshot reads checkpoint + suffix, not the whole log") {
    val root = freshRoot("txlog-ckpt")
    import spark.implicits._
    TxLog.init(spark, root, Seq(1L).toDF("v"))
    (2 to 25).foreach { k =>
      TxLog.commitOverwrite(spark, root, Seq.fill(k)(k.toLong).toDF("v"),
        expected = k - 1L)
    }
    // the 20th publish refreshed the checkpoint
    val ck = TxLog.readCheckpoint(root).get
    assert(ck.version === 20L)
    // refs cover every data dir referenced at or below the floor
    assert(ck.refs.size === 20)

    // snapshot resolution: zero directory listings, only the
    // (checkpoint, latest] suffix parsed — the 10⁴-commit log cost model
    TxLog.logListings.set(0L); TxLog.manifestParses.set(0L)
    assert(TxLog.snapshot(root).get.version === 25L)
    assert(TxLog.logListings.get === 0L, "snapshot listed the whole log dir")
    assert(TxLog.manifestParses.get <= 7L,
      s"snapshot parsed ${TxLog.manifestParses.get} manifests — expected checkpoint + suffix only")

    // vacuum: same suffix bound, and the checkpointed refs protect
    // pre-floor versions' files WITHOUT re-parsing their manifests
    TxLog.logListings.set(0L); TxLog.manifestParses.set(0L)
    assert(TxLog.vacuum(root, graceMs = 0L) === 0)
    assert(TxLog.logListings.get === 0L)
    assert(TxLog.manifestParses.get <= 6L)

    // time travel to pre-checkpoint versions still works until pruned
    assert(TxLog.read(spark, root, 3L).count() === 3L)
    assert(TxLog.read(spark, root, 25L).count() === 25L)

    // the proof vacuum consults the checkpoint rather than old manifests:
    // tear a pre-floor manifest (truncate its terminator) — the un-parsable
    // manifest's files stay protected because the checkpoint already
    // recorded them (the pre-checkpoint engine would have swept them)
    val m5 = java.nio.file.Paths.get(root, "_txlog", f"v-${5L}%020d")
    java.nio.file.Files.write(m5, "torn\n".getBytes)
    assert(TxLog.vacuum(root, graceMs = 0L) === 0,
      "vacuum swept files of a torn pre-checkpoint manifest instead of trusting the checkpoint")
    assert(TxLog.read(spark, root, 4L).count() === 4L)

    // pruneHistory rebuilds the checkpoint from the retained manifests —
    // the refs SHRINK, and vacuum can finally reclaim the pruned versions.
    // The new floor sits at the OLDEST retained version (the resolution
    // base for every retained delta chain).
    TxLog.pruneHistory(root, keepLast = 2)
    val ck2 = TxLog.readCheckpoint(root).get
    assert(ck2.version === 24L)
    assert(ck2.refs.size === 2)
    assert(TxLog.vacuum(root, graceMs = 0L) === 23)
    assert(TxLog.read(spark, root, 24L).count() === 24L)
    assert(TxLog.read(spark, root).count() === 25L)
  }

  test("versionAt is exact and portable: a copied log (fresh mtimes) still time-travels") {
    val root = freshRoot("txlog-tsexact")
    import spark.implicits._
    TxLog.init(spark, root, Seq(1L).toDF("v"))
    val t1 = System.currentTimeMillis()
    Thread.sleep(50L) // t-header has millisecond precision — no mtime granularity games
    TxLog.commitOverwrite(spark, root, Seq(1L, 2L).toDF("v"), expected = 1L)
    assert(TxLog.snapshot(root).get.timestampMs.isDefined)

    // copy the whole table WITHOUT preserving file dates — a restored
    // backup; mtime-based timestampAsOf would see every version as "now"
    val copy = freshRoot("txlog-tsexact-copy")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(copy), false)
    Thread.sleep(20L)
    assert(TxLog.versionAt(copy, t1) === Some(1L))
    assert(TxLog.versionAt(copy, System.currentTimeMillis()) === Some(2L))
    assert(TxLog.versionAt(copy, t1 - 60000L) === None)
    assert(TxLog.read(spark, copy, TxLog.versionAt(copy, t1).get).count() === 1)
  }

  test("partition column type round-trips: int and date read back typed, not stringified") {
    import spark.implicits._
    // int partition
    val rootI = freshRoot("txlog-ptype-int")
    val dfI = Seq((1L, 10, "a"), (2L, 10, "b"), (3L, 20, "c"))
      .toDF("id", "bucket", "text")
    TxLog.initPartitioned(spark, rootI, dfI, "bucket")
    val backI = TxLog.read(spark, rootI)
    assert(backI.schema("bucket").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(backI.filter(col("bucket") === 10).count() === 2)
    assert(backI.select(sum("bucket")).head.getLong(0) === 40L)

    // int partition survives a partition-scoped upsert (type recorded in
    // the manifest, enforced against the batch)
    TxLog.upsertPartitioned(spark, rootI,
      Seq((4L, 20, "d")).toDF("id", "bucket", "text"), "id", "bucket")
    val afterI = TxLog.read(spark, rootI)
    assert(afterI.schema("bucket").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(afterI.count() === 4)
    // a retyped batch is refused loudly
    intercept[IllegalArgumentException] {
      TxLog.upsertPartitioned(spark, rootI,
        Seq((5L, "20", "e")).toDF("id", "bucket", "text"), "id", "bucket")
    }

    // date partition
    val rootD = freshRoot("txlog-ptype-date")
    val dfD = Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
      .toDF("id", "day").withColumn("day", col("day").cast("date"))
    TxLog.initPartitioned(spark, rootD, dfD, "day")
    val backD = TxLog.read(spark, rootD)
    assert(backD.schema("day").dataType === org.apache.spark.sql.types.DateType)
    assert(backD.filter(col("day") === lit("2024-01-02").cast("date")).count() === 1)

    // adopted hive layouts have no committed type — string, as documented
    val rootA = freshRoot("txlog-ptype-adopt")
    dfI.write.partitionBy("bucket").parquet(rootA)
    TxLog.adopt(spark, rootA, Some("bucket"))
    assert(TxLog.read(spark, rootA).schema("bucket").dataType ===
      org.apache.spark.sql.types.StringType)
  }

  test("partitioned compact: per-partition target, untouched partitions carried by reference") {
    import spark.implicits._
    val root = freshRoot("txlog-pcompact")
    // partition "a" fragmented to 8 files, partition "b" written compact
    val partA = spark.range(64).select(col("id"), lit("a").as("p")).repartition(8)
    TxLog.initPartitioned(spark, root, partA, "p")
    TxLog.commitAppend(spark, root,
      spark.range(100, 116).select(col("id"), lit("b").as("p")).coalesce(1),
      expected = 1L)
    val snap0 = TxLog.snapshot(root).get
    def filesOf(s: TxLog.Snapshot, pv: String) =
      s.entries.filter(_.part.contains(pv)).map(_.path)
    assert(filesOf(snap0, "a").size === 8)
    assert(filesOf(snap0, "b").size === 1)

    val v = TxLog.compact(spark, root, 2)
    val snap1 = TxLog.snapshot(root).get
    assert(snap1.version === v)
    assert(filesOf(snap1, "a").size <= 2)
    // partition b was at target: its file carried BY REFERENCE (same path)
    assert(filesOf(snap1, "b") === filesOf(snap0, "b"))
    assert(TxLog.read(spark, root).count() === 80)
    assert(TxLog.read(spark, root).select(sum("id")).head.getLong(0) ===
      (0L until 64L).sum + (100L until 116L).sum)

    // every partition now at/under target: metadata-only no-op
    assert(TxLog.compact(spark, root, 2) === v)
    assert(TxLog.currentVersion(root) === v)
  }

  test("versionAt resolves the version live at a timestamp (mtime-based timestampAsOf)") {
    val root = freshRoot("txlog-tsasof")
    import spark.implicits._
    TxLog.init(spark, root, Seq(1L).toDF("v"))
    val t1 = System.currentTimeMillis()
    Thread.sleep(1100L) // manifest mtimes have ~second granularity on some filesystems
    TxLog.commitOverwrite(spark, root, Seq(1L, 2L).toDF("v"), expected = 1L)
    val t2 = System.currentTimeMillis()
    assert(TxLog.versionAt(root, t1) === Some(1L))
    assert(TxLog.versionAt(root, t2) === Some(2L))
    assert(TxLog.versionAt(root, t1 - 60000L) === None) // before any commit
    assert(TxLog.read(spark, root, TxLog.versionAt(root, t1).get).count() === 1)
  }

  test("committed schema evolves additively on append; drops and retypes are rejected") {
    val root = freshRoot("txlog-schema")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    assert(TxLog.snapshot(root).get.schemaJson.isDefined)

    // additive append: new column arrives; OLD files surface it as NULL
    // (the committed schema, not parquet inference, governs the read)
    val v = TxLog.commitAppend(spark, root,
      Seq((3L, "c", "en")).toDF("doc_id", "text", "lang"),
      expected = TxLog.currentVersion(root))
    val after = TxLog.read(spark, root, v).orderBy("doc_id").collect()
    assert(after.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(after.map(r => Option(r.getString(2))).toSeq === Seq(None, None, Some("en")))

    // dropping a committed column is NOT additive
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, root, Seq(4L).toDF("doc_id"),
        expected = TxLog.currentVersion(root))
    }
    // retyping a committed column is NOT additive
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, root,
        Seq((5L, 9, "x")).toDF("doc_id", "text", "lang"),
        expected = TxLog.currentVersion(root))
    }
    // the failed attempts published nothing
    assert(TxLog.currentVersion(root) === v)
    assert(TxLog.read(spark, root).count() === 3)

    // overwrite may change schema freely (every file is replaced)
    TxLog.commitOverwrite(spark, root, Seq((7L, 1.5)).toDF("doc_id", "score"),
      expected = v)
    assert(TxLog.read(spark, root).columns.toSeq === Seq("doc_id", "score"))
  }

  test("column mapping: rename and drop are metadata-only; dropped names cannot resurrect") {
    val root = freshRoot("txlog-colmap")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"))
    val dataDirs = () => Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty).count(_.isDirectory)
    assert(dataDirs() === 1)

    // rename text -> body: METADATA-ONLY (no new data dir), logical
    // schema changes, the files keep their physical column
    val v2 = TxLog.renameColumn(spark, root, "text", "body")
    assert(v2 === 2L)
    assert(dataDirs() === 1, "rename staged data — must be metadata-only")
    val r2 = TxLog.read(spark, root)
    assert(r2.columns.toSeq === Seq("doc_id", "body"))
    assert(r2.orderBy("doc_id").collect().map(_.getString(1)).toSeq ===
      Seq("alpha", "beta"))
    // time travel: v1 still shows the OLD logical name
    assert(TxLog.read(spark, root, 1L).columns.toSeq === Seq("doc_id", "text"))

    // append AFTER the rename: the batch speaks the logical name; the
    // staged file stores the physical one; both vintages read uniformly
    val v3 = TxLog.commitAppend(spark, root,
      Seq((3L, "gamma")).toDF("doc_id", "body"), expected = v2)
    assert(TxLog.read(spark, root, v3).orderBy("doc_id").collect()
      .map(_.getString(1)).toSeq === Seq("alpha", "beta", "gamma"))
    // appending under the RETIRED name is rejected (additive gate on
    // the logical schema: 'text' is not a column anymore... it's a new
    // column now, which is allowed — but it must NOT resurrect old data)

    // drop doc_id? no — drop is for non-key demo; add a column then drop it
    val v4 = TxLog.commitAppend(spark, root,
      Seq((4L, "delta", "en")).toDF("doc_id", "body", "lang"), expected = v3)
    assert(TxLog.read(spark, root, v4).columns.toSeq ===
      Seq("doc_id", "body", "lang"))
    val v5 = TxLog.dropColumn(spark, root, "lang")
    assert(dataDirs() === 3, "drop staged data — must be metadata-only")
    assert(TxLog.read(spark, root, v5).columns.toSeq === Seq("doc_id", "body"))
    // v4 still has lang (time travel across the drop)
    assert(TxLog.read(spark, root, v4).columns.toSeq ===
      Seq("doc_id", "body", "lang"))

    // re-add a NEW logical column named like the RENAMED-AWAY physical
    // ('text' lives physically in v1's files): old rows must surface
    // NULL, never the v1 values — the resurrection guard
    val v6 = TxLog.commitAppend(spark, root,
      Seq((5L, "eps", "fresh")).toDF("doc_id", "body", "text"), expected = v5)
    val r6 = TxLog.read(spark, root, v6).orderBy("doc_id").collect()
    assert(r6.map(r => Option(r.getString(2))).toSeq ===
      Seq(None, None, None, None, Some("fresh")),
      "dropped/renamed-away physical column resurrected into a new logical column")

    // and a NEW column named like the DROPPED logical ('lang' retired
    // physically): same guard
    val v7 = TxLog.commitAppend(spark, root,
      Seq((6L, "zeta", "t6", "LANGNEW")).toDF("doc_id", "body", "text", "lang"),
      expected = v6)
    val r7 = TxLog.read(spark, root, v7).orderBy("doc_id").collect()
    assert(r7.map(r => Option(r.getString(3))).toSeq ===
      Seq(None, None, None, None, None, Some("LANGNEW")))

    // guards: partition column / unknown / duplicate / last column
    intercept[IllegalArgumentException](TxLog.renameColumn(spark, root, "nope", "x"))
    intercept[IllegalArgumentException](TxLog.renameColumn(spark, root, "body", "doc_id"))
    val rootP = freshRoot("txlog-colmap-part")
    TxLog.initPartitioned(spark, rootP,
      Seq((1L, "a", "en")).toDF("doc_id", "text", "lang"), "lang")
    intercept[IllegalArgumentException](TxLog.renameColumn(spark, rootP, "lang", "l2"))
    intercept[IllegalArgumentException](TxLog.dropColumn(spark, rootP, "lang"))
  }

  test("column mapping survives partition-scoped upsert; overwrite rewrites it away") {
    val root = freshRoot("txlog-colmap-upsert")
    import spark.implicits._
    TxLog.initPartitioned(spark, root,
      Seq((1L, "one", "en"), (2L, "zwei", "de")).toDF("doc_id", "text", "lang"),
      "lang")
    TxLog.renameColumn(spark, root, "text", "body")
    // partition-scoped merge speaks the logical name; only 'de' touched
    TxLog.upsertPartitioned(spark, root,
      Seq((2L, "ZWEI", "de"), (3L, "drei", "de")).toDF("doc_id", "body", "lang"),
      "doc_id", "lang")
    val after = TxLog.read(spark, root).orderBy("doc_id").collect()
    assert(TxLog.read(spark, root).columns.toSeq === Seq("doc_id", "body", "lang"))
    assert(after.map(_.getString(1)).toSeq === Seq("one", "ZWEI", "drei"))
    // untouched partition carried by reference still reads through the map
    assert(after(0).getString(2) === "en")

    // a full overwrite materializes logical names physically: mapping gone
    val snapBefore = TxLog.snapshot(root).get
    assert(snapBefore.mapping.nonEmpty)
    TxLog.upsert(spark, root,
      Seq((4L, "vier", "de")).toDF("doc_id", "body", "lang"), "doc_id")
    val snapAfter = TxLog.snapshot(root).get
    assert(snapAfter.mapping.isEmpty && snapAfter.retired.isEmpty)
    assert(TxLog.read(spark, root).columns.toSeq === Seq("doc_id", "body", "lang"))
    assert(TxLog.read(spark, root).count() === 4)
  }

  test("concurrent monotone streams on one table: CAS retry lands both, ledgers stay O(1)") {
    val root = freshRoot("txlog-hw-race")
    TxLog.init(spark, root, spark.range(5).toDF("v"))
    // two independent streams racing appends into the same table: every
    // commit must land exactly once and each stream keeps ONE high-water
    // note. 4 commits per stream keeps worst-case consecutive CAS losses
    // (bounded by the OTHER stream's remaining commits) under withRetry's
    // attempt cap, so the test is deterministic, not just likely-green.
    def pump(prefix: String, base: Long): Thread = new Thread(() =>
      (0 until 4).foreach { k =>
        assert(TxLog.appendOnceMonotone(spark, root, prefix, k.toLong,
          spark.range(base + k * 10, base + k * 10 + 10).toDF("v")))
      })
    val ts = Seq(pump("left", 1000L), pump("right", 2000L))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(TxLog.read(spark, root).count() === 5 + 80)
    assert(TxLog.snapshot(root).get.notes === Set("hw:left:3", "hw:right:3"))
    assert(TxLog.currentVersion(root) === 9L)
  }

  test("compact packs files; pruneHistory + vacuum release old versions") {
    val root = freshRoot("txlog-compact")
    TxLog.init(spark, root, docs.limit(64).repartition(16))
    val dataDirs = () => Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty).count(_.isDirectory)
    assert(TxLog.snapshot(root).get.files.size === 16)
    TxLog.compact(spark, root, 2)
    assert(TxLog.snapshot(root).get.files.size <= 2)
    assert(TxLog.read(spark, root).count() === 64)
    // already packed: metadata-only no-op, no new version
    val vPacked = TxLog.currentVersion(root)
    assert(TxLog.compact(spark, root, 2) === vPacked)
    assert(TxLog.currentVersion(root) === vPacked)
    // v1's 16-file dir survives (still pinnable) until history is pruned
    assert(dataDirs() === 2)
    TxLog.pruneHistory(root, keepLast = 1)
    assert(TxLog.vacuum(root, graceMs = 0L) === 1)
    assert(dataDirs() === 1)
    assert(TxLog.read(spark, root).count() === 64)
    assert(intercept[IllegalStateException](
      TxLog.read(spark, root, 1L)).getMessage.contains("no committed version"))
  }

  test("incremental manifests: per-commit bytes are O(batch), not O(table files)") {
    val root = freshRoot("txlog-delta")
    import spark.implicits._
    def manifestBytes(v: Long): Long =
      java.nio.file.Files.size(
        java.nio.file.Paths.get(root, "_txlog", f"v-$v%020d"))
    // a 1-row-per-batch append stream: the round-9 engine re-listed every
    // prior file in every manifest, making cumulative manifest bytes
    // QUADRATIC in commit count — the metadata scale-killer for a
    // streaming table taking one small append per 30 s
    TxLog.init(spark, root, Seq((0L, "v0")).toDF("id", "s"))
    (1L to 24L).foreach { k =>
      assert(TxLog.appendOnceMonotone(spark, root, "mb", k,
        Seq((k, s"v$k")).toDF("id", "s")))
    }
    assert(TxLog.currentVersion(root) === 25L)
    assert(TxLog.snapshot(root).get.files.size >= 25)
    assert(TxLog.read(spark, root).count() === 25L)
    // O(batch): a late 1-row append's manifest costs the same as an early
    // one — no growth with the accumulated file count
    assert(manifestBytes(25L) <= manifestBytes(3L) + 64L,
      s"manifest bytes grew with table size: v3=${manifestBytes(3L)} " +
        s"v25=${manifestBytes(25L)}")
    // a metadata-only commit on the 25-file table writes ~no entry lines
    TxLog.renameColumn(spark, root, "s", "t")
    assert(manifestBytes(26L) < 512L,
      s"rename manifest re-listed the table: ${manifestBytes(26L)} bytes")
    // resolution of the latest version stays O(interval): nearest
    // checkpoint (v20) + the delta suffix, never the 26-manifest chain
    TxLog.logListings.set(0L); TxLog.manifestParses.set(0L)
    assert(TxLog.snapshot(root).get.version === 26L)
    assert(TxLog.logListings.get === 0L)
    assert(TxLog.manifestParses.get <= 10L,
      s"resolution parsed ${TxLog.manifestParses.get} manifests")
    // every retained version still time-travels exactly
    assert(TxLog.read(spark, root, 1L).count() === 1L)
    assert(TxLog.read(spark, root, 13L).count() === 13L)
    assert(TxLog.read(spark, root, 26L).columns.toSeq === Seq("id", "t"))
  }

  test("checkpoint chain thins exponentially; every retained version still time-travels") {
    val root = freshRoot("txlog-thin")
    import spark.implicits._
    TxLog.init(spark, root, Seq((0L, "v0")).toDF("id", "s"))
    def append(ks: Seq[Long]): Unit = ks.foreach { k =>
      assert(TxLog.appendOnceMonotone(spark, root, "mb", k,
        Seq((k, s"v$k")).toDF("id", "s")))
    }
    // metadata cost sampled at two log lengths 6× apart, both at a
    // checkpoint version (the same phase of the checkpoint interval)
    case class Sample(listings: Long, parses: Long, manifestBytes: Long,
        ckBytes: Long, historyParses: Long, logFiles: Int, maintainedLogFiles: Int)
    def logFiles(r: String): Int = Option(new java.io.File(s"$r/_txlog").listFiles())
      .getOrElse(Array.empty).count(_.isFile)
    def sample(v: Long): Sample = {
      TxLog.logListings.set(0L); TxLog.manifestParses.set(0L)
      assert(TxLog.snapshot(root).get.version === v)
      val (listings, parses) = (TxLog.logListings.get.longValue,
        TxLog.manifestParses.get.longValue)
      // the contrast: a full-log walk's parse count grows with commits
      TxLog.manifestParses.set(0L)
      val hist = TxLog.history(root)
      val historyParses = TxLog.manifestParses.get.longValue
      assert(hist.size.toLong === v)
      // ...but only linearly: one forward fold parses each manifest once
      assert(historyParses <= v + 2, s"history at v$v parsed $historyParses manifests")
      hist.foreach { h =>
        assert(h.nFiles === TxLog.snapshot(root, h.version).get.entries.size,
          s"history nFiles diverges from the snapshot at v${h.version}")
      }
      // production upkeep on a copy, so the sampled log gains no commit
      val maintained = freshRoot("txlog-thin-maint")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root), new java.io.File(maintained))
      TxLog.compact(spark, maintained, targetFiles = 2)
      TxLog.pruneHistory(maintained, keepLast = 5)
      TxLog.vacuum(maintained, graceMs = 0L)
      assert(TxLog.read(spark, maintained).count() === v)
      def bytes(name: String) =
        java.nio.file.Files.size(java.nio.file.Paths.get(root, "_txlog", name))
      Sample(listings, parses, bytes(f"v-$v%020d"), bytes(f"ck-$v%020d"),
        historyParses, logFiles(root), logFiles(maintained))
    }
    append(1L to 19L)
    val at20 = sample(20L)
    append(20L to 119L)
    assert(TxLog.currentVersion(root) === 120L)
    val at120 = sample(120L)
    val both = s"v20 $at20 vs v120 $at120"
    // resolution is flat in commits: no listing, the same parses
    assert(at120.listings === 0L && at20.listings === 0L, both)
    assert(at120.parses === at20.parses, both)
    // a 1-row commit's manifest is O(batch) while the checkpoint, a
    // full file list, grows with the table
    assert(at120.manifestBytes <= at20.manifestBytes + 64L, both)
    assert(at120.ckBytes >= 4L * at20.ckBytes, both)
    assert(at120.historyParses >= 4L * at20.historyParses, both)
    // maintained, the retained _txlog is the same size at both lengths;
    // unmaintained, it grows with commits
    assert(at120.maintainedLogFiles === at20.maintainedLogFiles, both)
    assert(at120.logFiles >= 4 * at20.logFiles, both)
    // without thinning a 120-commit log holds 12 full-file-list
    // checkpoints (one per interval) — cumulative _txlog bytes
    // quadratic-ish on long streams. Retention: newest ~3 intervals
    // dense, then exponential spacing → O(log commits) files.
    val cks = Option(java.nio.file.Paths.get(root, "_txlog").toFile.listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("ck-")).sorted
    assert(cks.length <= 6, s"expected ≤6 retained checkpoints, got ${cks.toSeq}")
    assert(cks.last === f"ck-${120L}%020d") // newest always present
    // correctness is checkpoint-independent: every version resolves
    // (thinned regions walk further back — archaeology pays, hot path
    // doesn't), latest resolution stays O(interval)
    Seq(1L, 7L, 35L, 64L, 99L, 120L).foreach { v =>
      assert(TxLog.read(spark, root, v).count() === v,
        s"version $v diverged after checkpoint thinning")
    }
    TxLog.logListings.set(0L); TxLog.manifestParses.set(0L)
    assert(TxLog.snapshot(root).get.version === 120L)
    assert(TxLog.manifestParses.get <= 10L)
    // prune + vacuum: the rebuilt floor checkpoint survives thinning
    // (it is the only base for the retained delta suffix)
    TxLog.pruneHistory(root, keepLast = 5)
    TxLog.vacuum(root, graceMs = 0L)
    assert(TxLog.read(spark, root, 116L).count() === 116L)
    assert(TxLog.read(spark, root).count() === 120L)
  }

  test("pruneHistory rewrites a delta floor manifest as full; no checkpoint is load-bearing") {
    val root = freshRoot("txlog-fullfloor")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "v1")).toDF("id", "s"))
    (2L to 25L).foreach { k =>
      assert(TxLog.appendOnceMonotone(spark, root, "mb", k,
        Seq((k, s"v$k")).toDF("id", "s")))
    }
    // keepLast=8 puts the floor at v18 — mid-interval, so its manifest
    // was published as a DELTA. pruneHistory must have rewritten it as a
    // FULL manifest before deleting the prefix: afterwards checkpoints
    // are pure accelerators, so a racing thinCheckpoints that removes
    // ck-18 (the round-11 TOCTOU: stale oldest-manifest floor) can no
    // longer break resolution.
    TxLog.pruneHistory(root, keepLast = 8)
    val dir = java.nio.file.Paths.get(root, "_txlog")
    val floorLines = java.nio.file.Files.readAllLines(
      dir.resolve(f"v-${18L}%020d"))
    assert(!floorLines.contains("k\tdelta"), "floor manifest still a delta")
    // simulate the worst outcome of the race: EVERY checkpoint artifact
    // gone — resolution of every retained version must survive on
    // manifests alone
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("ck-") || f.getName == "_last_checkpoint")
      .foreach(f => assert(f.delete()))
    (18L to 25L).foreach { v =>
      assert(TxLog.read(spark, root, v).count() === v,
        s"version $v unresolvable after checkpoint loss")
    }
    // versionAt survives the rewrite (the original `t` header rode along)
    assert(TxLog.snapshot(root, 18L).get.timestampMs.isDefined)
  }

  test("vacuum stale-floor guard: a checkpoint whose floor manifest is gone falls back to the full parse") {
    val root = freshRoot("txlog-staleck")
    import spark.implicits._
    TxLog.init(spark, root, Seq(1L).toDF("v"))
    (2 to 12).foreach { k =>
      TxLog.commitOverwrite(spark, root, Seq.fill(k)(k.toLong).toDF("v"),
        expected = k - 1L)
    }
    // checkpoint landed at v10; simulate the crashed-prune state the old
    // engine could leave: manifests 1..11 deleted, checkpoint NOT rebuilt.
    // The fast path would probe forward from floor 10, find no v-11, and
    // take referenced = ck.refs — which misses v12's data dir entirely.
    assert(TxLog.readCheckpoint(root).get.version === 10L)
    (1L to 11L).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, "_txlog", f"v-$v%020d"))
    }
    // the guard must detect the missing floor manifest and full-parse:
    // v12's dir survives; the released dirs are reclaimed (v10's dir stays
    // protected by the surviving ck-10 snapshot file — conservative)
    assert(TxLog.vacuum(root, graceMs = 0L) === 10)
    assert(TxLog.read(spark, root).count() === 12L,
      "vacuum deleted data files of the current version under a stale checkpoint")
    assert(TxLog.currentVersion(root) === 12L)
  }

  test("pruneHistory rebuilds the checkpoint BEFORE deleting manifests (no stale-floor window)") {
    val root = freshRoot("txlog-pruneorder")
    import spark.implicits._
    TxLog.init(spark, root, Seq(1L).toDF("v"))
    (2 to 12).foreach { k =>
      TxLog.commitOverwrite(spark, root, Seq.fill(k)(k.toLong).toDF("v"),
        expected = k - 1L)
    }
    TxLog.pruneHistory(root, keepLast = 2)
    // post-state invariant the new ordering guarantees at EVERY crash
    // point: the checkpoint's floor manifest exists (floor = oldest
    // retained, written before any deletion), so vacuum's fast path is
    // always sound
    val ck = TxLog.readCheckpoint(root).get
    assert(ck.version === 11L)
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(root, "_txlog", f"v-${ck.version}%020d")))
    assert(TxLog.vacuum(root, graceMs = 0L) === 10)
    assert(TxLog.read(spark, root).count() === 12L)
    assert(TxLog.read(spark, root, 11L).count() === 11L)
  }

  test("resurrection guard mints PAST occupied suffixed names (c__vN literally taken)") {
    val root = freshRoot("txlog-mintloop")
    import spark.implicits._
    // a user column literally named note__v3 occupies the name the naive
    // mint would pick after dropping `note` at v2 and re-adding it at v3
    TxLog.init(spark, root,
      Seq((1L, "secret", "keepme")).toDF("doc_id", "note", "note__v3"))
    TxLog.dropColumn(spark, root, "note") // v2: physical `note` retired
    TxLog.commitAppend(spark, root,
      Seq((2L, "fresh", "keepme2")).toDF("doc_id", "note", "note__v3"),
      expected = 2L) // v3: re-added logical `note` must NOT reuse note__v3
    val back = TxLog.read(spark, root).orderBy("doc_id")
    assert(back.columns.toSet === Set("doc_id", "note", "note__v3"))
    val rows = back.collect()
    // old row: re-added `note` surfaces NULL (not the retired "secret",
    // and not the unrelated note__v3 payload); note__v3 is unharmed
    assert(rows(0).isNullAt(rows(0).fieldIndex("note")),
      "re-added column resurrected old values through a colliding minted name")
    assert(rows(0).getString(rows(0).fieldIndex("note__v3")) === "keepme")
    assert(rows(1).getString(rows(1).fieldIndex("note")) === "fresh")
    assert(rows(1).getString(rows(1).fieldIndex("note__v3")) === "keepme2")
    // the mapping carries a fresh minted physical name distinct from every
    // live and retired physical name
    val snap = TxLog.snapshot(root).get
    val minted = snap.mapping.collect { case (p, "note") => p }
    assert(minted.size === 1)
    assert(!minted.head.equalsIgnoreCase("note") &&
      !minted.head.equalsIgnoreCase("note__v3"))
  }

  test("pre-staged append: same result as inline; stale vintage restages") {
    val root = freshRoot("txlog-prestage")
    TxLog.init(spark, root, docs)
    val n0 = docs.count()
    val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .limit(20)
    // stage against the current snapshot, commit later — identical result
    val snap1 = TxLog.snapshot(root).get
    val st1 = TxLog.stageAppend(spark, root, batch, snap1)
    assert(TxLog.read(spark, root).count() === n0) // staged ⇒ invisible
    assert(TxLog.appendOnceMonotoneKv(spark, root, "ps", 1L, batch,
      _ => Map("n" -> (n0 + 20).toString), preStaged = Some(st1)))
    assert(TxLog.read(spark, root).count() === n0 + 20)
    assert(TxLog.kvOf(TxLog.snapshot(root).get.notes)("n") === (n0 + 20).toString)
    // a layout change between stage and commit invalidates the vintage:
    // dropColumn rewires the mapping/retired layers, so committing the
    // stale pre-stage must RESTAGE against the fresh layout — here the
    // batch's text column becomes an additive re-add under a fresh
    // physical name (resurrection guard), old rows surface it as NULL
    val snap2 = TxLog.snapshot(root).get
    val batch2 = docs.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      .limit(5)
    val st2 = TxLog.stageAppend(spark, root, batch2, snap2)
    TxLog.dropColumn(spark, root, "text")
    assert(TxLog.appendOnceMonotoneKv(spark, root, "ps", 2L, batch2,
      _ => Map("n" -> (n0 + 25).toString), preStaged = Some(st2)))
    val after = TxLog.read(spark, root)
    assert(after.count() === n0 + 25)
    assert(after.filter(col("doc_id") >= 2000000L && col("text").isNotNull)
      .count() === 5)
    assert(after.filter(col("doc_id") < 2000000L && col("text").isNotNull)
      .count() === 0)
    // the abandoned pre-stage is an unreferenced dir: vacuumable, never read
    assert(TxLog.vacuum(root, graceMs = 0L) >= 1)
    assert(TxLog.read(spark, root).count() === n0 + 25)
  }

  test("staging forked before the publish counts on the writer's thread: " +
      "one updateMoR, one data stage") {
    val root = freshRoot("txlog-count-mor")
    import spark.implicits._
    TxLog.init(spark, root,
      (0L until 100L).map(k => (k, s"v$k")).toDF("id", "s").repartition(2))
    TxLog.dataStages.set(0L)
    TxLog.updateMoR(spark, root, col("id") % 10 === 0, Seq("s" -> lit("u")))
    // the replacement rows stage inside the pre-publish future; the
    // await carries that stage to this thread's counter
    assert(TxLog.dataStages.get.longValue === 1L)
    assert(TxLog.read(spark, root).filter(col("s") === "u").count() === 10L)
  }

  test("upsert and append parse the pinned manifest once") {
    val root = freshRoot("txlog-parse-once")
    import spark.implicits._
    TxLog.init(spark, root, (0L until 100L).map(k => (k, s"v$k")).toDF("id", "s"))
    // latest is a full manifest and no checkpoint exists yet, so pinning
    // the snapshot is one parse; the merge read and the commit reuse it
    TxLog.manifestParses.set(0L)
    TxLog.upsert(spark, root,
      (90L until 110L).map(k => (k, s"u$k")).toDF("id", "s"), "id")
    assert(TxLog.manifestParses.get.longValue === 1L)
    TxLog.manifestParses.set(0L)
    TxLog.insertInto(spark, root,
      (200L until 210L).map(k => (k, s"a$k")).toDF("id", "s"))
    assert(TxLog.manifestParses.get.longValue === 1L)
    assert(TxLog.read(spark, root).count() === 120L)
  }

  test("readAppended's one append-only proof parses no more manifests than before") {
    val root = freshRoot("txlog-appended-parses")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a")).toDF("id", "s")) // v1
    (2L to 5L).foreach(k =>
      TxLog.appendOnce(spark, root, s"b$k", Seq((k, "x")).toDF("id", "s"))) // v2..v5
    // one step: the two endpoints are the whole proof
    TxLog.manifestParses.set(0L)
    val one = TxLog.readAppended(spark, root, 4L, 5L)
    val single = TxLog.manifestParses.get.longValue
    // three steps (1, 4]: the endpoints plus the interior manifests
    TxLog.manifestParses.set(0L)
    val three = TxLog.readAppended(spark, root, 1L, 4L)
    val multi = TxLog.manifestParses.get.longValue
    assert(one.count() === 1L && three.count() === 3L)
    // the counts measured when a single step ran an endpoint diff and
    // only longer ranges walked: the walk now proves both, and a single
    // step already holds both of its manifests
    assert(single === 9L, s"single step parsed $single manifests")
    assert(multi === 15L, s"three steps parsed $multi manifests")
  }
}
