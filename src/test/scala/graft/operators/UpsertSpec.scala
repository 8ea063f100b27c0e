package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Keyed merge and partition-scoped rewrites through the commit log:
  * replace, insert, survive; only touched partitions are rewritten (kept
  * files carried by reference — provably the same bytes); hive-escaped /
  * NULL / empty-string partition values all land in the default
  * partition; and a partition filter prunes the read plan to one file
  * group. Expectations are built from the immutable source table. */
class UpsertSpec extends SparkSpec {

  private def src = Tables.documents(spark, sf).select("doc_id", "text", "lang")

  test("adopted hive table: upsert replaces by key, inserts, leaves the rest") {
    val root = freshRoot("upsert-test-merge")
    src.coalesce(2).write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    val n = src.count()
    val batch = src.filter(col("doc_id") < 10)
      .withColumn("text", lit("REPLACED"))
      .unionByName(src.limit(1)
        .select(lit(999999L).as("doc_id"), lit("NEW").as("text"), lit("en").as("lang")))

    val stats = TxLog.upsertPartitioned(spark, root, batch, "doc_id", "lang")
    assert(stats.map(_.batchRows).sum === batch.count())

    val after = TxLog.read(spark, root)
    assert(after.count() === n + 1)
    val expected = src.filter(col("doc_id") >= 10).unionByName(batch)
    assert(after.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(after).count() === 0)
    assert(after.select("doc_id").distinct().count() === after.count())
  }

  test("upsert into a never-seen partition mints it instead of throwing") {
    val root = freshRoot("upsert-test-mint")
    val fresh = src.select("lang").head().getString(0)
    src.filter(col("lang") =!= fresh).write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    assert(TxLog.snapshot(root).get.entries.forall(!_.part.contains(fresh)))
    val batch = src.filter(col("lang") === fresh).limit(5)
    val nBatch = batch.count()
    val stats = TxLog.upsertPartitioned(spark, root, batch, "doc_id", "lang")
    assert(stats === Seq(TxLog.PartStats(fresh, 0L, nBatch, nBatch)))
    assert(TxLog.read(spark, root).filter(col("lang") === fresh).count() === nBatch)
  }

  test("partition-scoped upsert rewrites ONLY touched partitions (kept files by reference)") {
    val root = freshRoot("upsert-test-scope")
    src.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    val langs = TxLog.snapshot(root).get.entries.flatMap(_.part).distinct.sorted
    assert(langs.length >= 2)
    val (touch, keep) = (langs.head, langs.last)
    val keepFilesBefore = TxLog.snapshot(root).get.entries
      .filter(_.part.contains(keep)).map(_.path).toSet

    val hit = col("lang") === touch && col("doc_id") % 7 === 0
    val batch = src.filter(hit).withColumn("text", lit("PATCHED"))
    val nBatch = batch.count()
    assert(nBatch > 0)
    val stats = TxLog.upsertPartitioned(spark, root, batch, "doc_id", "lang")
    assert(stats.map(_.partition) === Seq(touch))

    // untouched partition: the SAME manifest entries — carried by
    // reference, provably never rewritten (adopted paths, same files)
    val keepFilesAfter = TxLog.snapshot(root).get.entries
      .filter(_.part.contains(keep)).map(_.path).toSet
    assert(keepFilesAfter === keepFilesBefore)
    // touched partition: all-new staged files
    assert(TxLog.snapshot(root).get.entries
      .filter(_.part.contains(touch)).forall(_.path.startsWith("data/")))

    val after = TxLog.read(spark, root).select("doc_id", "text", "lang")
    val expected = src.withColumn("text", when(hit, "PATCHED").otherwise(col("text")))
    assert(after.count() === src.count())
    assert(after.filter(col("text") === "PATCHED").count() === nBatch)
    assert(after.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(after).count() === 0)
  }

  test("a partition filter prunes the plan to one file group") {
    val root = freshRoot("upsert-test-prune")
    src.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    val langs = TxLog.snapshot(root).get.entries.flatMap(_.part).distinct.sorted
    assert(langs.length >= 2)
    // constant-folding + PropagateEmptyRelation must collapse every other
    // partition's union leg: exactly ONE parquet relation survives
    val pruned = TxLog.read(spark, root).filter(col("lang") === langs.head)
    val scans = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.length === 1,
      s"expected 1 surviving scan, got ${scans.length}:\n${pruned.queryExecution.optimizedPlan}")
    assert(pruned.count() === src.filter(col("lang") === langs.head).count())
  }

  test("two-column table: upsert rewrites only the touched (lang, day) tuple; readPruned scans exactly its files") {
    val root = freshRoot("upsert-test-twocol")
    val docs = src.withColumn("day", (col("doc_id") % 3).cast("int"))
    TxLog.initPartitioned(spark, root, docs, Seq("lang", "day"), "")
    val before = TxLog.snapshot(root).get
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    assert(langs.length >= 2)
    val (touchLang, touchDay) = (langs.head, 1)
    val touchedTag = s"$touchLang/$touchDay"
    assert(before.entries.exists(_.part.contains(touchedTag)))
    // same lang, different day MUST be untouched — tuple pruning, not a
    // prefix match on the first column
    assert(before.entries.exists(e =>
      e.part.exists(t => t.startsWith(s"$touchLang/") && t != touchedTag)))

    val batch = docs.filter(col("lang") === touchLang && col("day") === touchDay)
      .limit(5).withColumn("text", lit("REPLACED"))
    TxLog.upsertPartitioned(spark, root, batch, "doc_id", Seq("lang", "day"), "")
    val after = TxLog.snapshot(root).get
    assert(before.entries.filterNot(_.part.contains(touchedTag)).toSet ===
      after.entries.filterNot(_.part.contains(touchedTag)).toSet,
      "untouched tuples must carry by reference (same paths, tags, sizes)")
    assert(after.entries.filter(_.part.contains(touchedTag)).toSet !=
      before.entries.filter(_.part.contains(touchedTag)).toSet)

    // manifest-level pruning: the pruned read's plan is ONE relation over
    // exactly the touched tuple's files — never O(#tuples) relations, and
    // never a file of any other tuple
    val pruned = TxLog.readPruned(spark, root, after)(
      t => t == Seq(Some(touchLang), Some(touchDay.toString)))
    val scans = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.length === 1)
    val expectedFiles = after.entries.filter(_.part.contains(touchedTag))
      .map(e => s"$root/${e.path}").toSet
    val scanned = pruned.inputFiles.map(_.stripPrefix("file:")).toSet
    assert(scanned === expectedFiles,
      s"pruned scan must read exactly the tuple's manifest files\n" +
        s"scanned: $scanned\nexpected: $expectedFiles")
    assert(pruned.count() ===
      TxLog.read(spark, root)
        .filter(col("lang") === touchLang && col("day") === touchDay).count())

    // two-column round-trip: values and types survive the shadow stage
    val rt = TxLog.read(spark, root)
    assert(rt.schema("day").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(rt.filter(col("day") === 1).count() ===
      docs.filter(col("day") === 1).count())
  }

  test("delete that empties a (lang, day) tuple leaves the manifest decodable everywhere") {
    val root = freshRoot("upsert-test-emptytuple")
    val docs = src.withColumn("day", (col("doc_id") % 3).cast("int"))
    TxLog.initPartitioned(spark, root, docs, Seq("lang", "day"), "")
    val before = TxLog.snapshot(root).get
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    val (goneLang, goneDay) = (langs.head, 1)
    val goneTag = s"$goneLang/$goneDay"
    assert(before.entries.exists(_.part.contains(goneTag)))
    // partition-column predicate → stats-pruned PARTIAL rewrite where
    // every row of the pruned files is a victim: the survivors frame
    // stages EMPTY. Before round 12 that published a placeholder entry
    // with NO partition tag, poisoning every later decodeTuple on the
    // two-column manifest (filtered reads, SHOW PARTITIONS, further DML).
    TxLog.delete(spark, root,
      col("lang") === goneLang && col("day") === goneDay, "empty-the-tuple")
    val after = TxLog.snapshot(root).get
    // no untagged entry was minted; the tuple's files are simply gone
    assert(after.entries.forall(_.part.isDefined))
    assert(!after.entries.exists(_.part.contains(goneTag)))
    // every decodeTuple consumer still works on the post-delete manifest
    assert(TxLog.read(spark, root)
      .filter(col("lang") === goneLang && col("day") === goneDay).count() === 0L)
    assert(TxLog.readWhere(spark, root, s"lang = '$goneLang'").count() ===
      docs.filter(col("lang") === goneLang && col("day") =!= goneDay).count())
    val census = TxLog.partitionCensus(root)
    assert(!census.exists(_._1 === Seq(Some(goneLang), Some(goneDay.toString))))
    // a SECOND delete on the same table must not trip over the manifest
    TxLog.delete(spark, root, col("day") === 2, "again")
    assert(TxLog.read(spark, root).filter(col("day") === 2).count() === 0L)
  }

  test("empty init of a two-column table publishes a decodable all-null placeholder") {
    val root = freshRoot("upsert-test-emptyinit")
    val docs = src.withColumn("day", (col("doc_id") % 3).cast("int"))
    TxLog.initPartitioned(spark, root, docs.filter(lit(false)),
      Seq("lang", "day"), "")
    val snap = TxLog.snapshot(root).get
    // the schema-bearing placeholder carries the explicit all-null tuple
    assert(snap.entries.nonEmpty)
    assert(snap.entries.forall(_.part.isDefined))
    assert(TxLog.read(spark, root).count() === 0L)
    assert(TxLog.read(spark, root).columns.toSeq === docs.columns.toSeq)
    assert(TxLog.readWhere(spark, root, "day = 1").count() === 0L)
    assert(TxLog.partitionCensus(root).forall(_._2 >= 0)) // decodes cleanly
    // and the table is usable: an upsert into a real tuple lands
    TxLog.upsertPartitioned(spark, root,
      docs.filter(col("day") === 1).limit(5), "doc_id", Seq("lang", "day"), "")
    assert(TxLog.read(spark, root).count() === 5L)
  }

  test("hive-escaped and NULL partition values merge into the writer's partitions") {
    val root = freshRoot("upsert-test-esc")
    import spark.implicits._
    // partition values a partitioned writer escapes (space is literal in
    // hive naming, '/' and '%' are not) plus a NULL (default partition)
    val base = Seq((1L, "a", "a/b"), (2L, "b", "p%q"), (3L, "c", null))
      .toDF("doc_id", "text", "lang")
    base.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    // adoption round-trips the escaping: raw values in the snapshot
    assert(TxLog.snapshot(root).get.entries.flatMap(_.part).toSet === Set("a/b", "p%q"))

    val batch = Seq((1L, "A2", "a/b"), (4L, "d", "p%q"), (5L, "e", null))
      .toDF("doc_id", "text", "lang")
    val stats = TxLog.upsertPartitioned(spark, root, batch, "doc_id", "lang")
    assert(stats.map(_.partition).toSet === Set("a/b", "p%q", "__HIVE_DEFAULT_PARTITION__"))

    val after = TxLog.read(spark, root)
    assert(after.count() === 5)
    assert(after.filter(col("doc_id") === 1).select("text").head().getString(0) === "A2")
    assert(after.filter(col("lang").isNull).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(3L, 5L))
    assert(after.filter(col("lang") === "a/b").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L))
  }

  test("empty-string partition values merge into the hive default partition") {
    val root = freshRoot("upsert-test-empty")
    import spark.implicits._
    // Spark's partitioned writer stores BOTH null and "" under
    // __HIVE_DEFAULT_PARTITION__ (and reads them back as null)
    val base = Seq((1L, "a", ""), (2L, "b", "x")).toDF("doc_id", "text", "lang")
    base.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))

    // batch carries one "" and one NULL value: both must route to the
    // default partition (as ONE touched partition)
    val batch = Seq((1L, "A2", ""), (3L, "c", null)).toDF("doc_id", "text", "lang")
    val stats = TxLog.upsertPartitioned(spark, root, batch, "doc_id", "lang")
    assert(stats.map(_.partition) === Seq("__HIVE_DEFAULT_PARTITION__"))

    val after = TxLog.read(spark, root)
    assert(after.count() === 3)
    assert(after.filter(col("doc_id") === 1).select("text").head().getString(0) === "A2")
    assert(after.filter(col("lang").isNull).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("generic ops on a partitioned table preserve partition metadata (delete/append/compact/full upsert)") {
    val root = freshRoot("upsert-test-generic")
    src.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    val n = src.count()
    val langs = TxLog.snapshot(root).get.entries.flatMap(_.part).distinct.sorted

    // delete restages through the hive writer: partCol survives, victims gone
    val nVictims = src.filter(col("doc_id") % 5 === 0).count()
    TxLog.delete(spark, root, col("doc_id") % 5 === 0)
    assert(TxLog.snapshot(root).get.partCol === Some("lang"))
    val afterDel = TxLog.read(spark, root)
    assert(afterDel.count() === n - nVictims)
    assert(afterDel.select("lang").distinct().count() === langs.length)

    // append lands new files tagged with their partitions
    val extra = src.filter(col("doc_id") % 5 === 0).limit(7)
    val v = TxLog.commitAppend(spark, root, extra, TxLog.currentVersion(root))
    assert(TxLog.read(spark, root, v).count() === n - nVictims + 7)

    // compact repacks but keeps the partition column and the row multiset
    val rowsBefore = TxLog.read(spark, root).collect().map(_.toString).sorted
    TxLog.compact(spark, root, 2)
    assert(TxLog.read(spark, root).collect().map(_.toString).sorted === rowsBefore)
    assert(TxLog.snapshot(root).get.partCol === Some("lang"))

    // full-table keyed upsert works too (the partition-scoped form is
    // upsertPartitioned; this is the rewrite-everything fallback)
    val batch = src.limit(3).withColumn("text", lit("FULL"))
    TxLog.upsert(spark, root, batch, "doc_id")
    assert(TxLog.read(spark, root).filter(col("text") === "FULL").count() === 3)
    assert(TxLog.snapshot(root).get.partCol === Some("lang"))
  }

  test("concurrent partition-scoped upserts both land (CAS retry on the partitioned path)") {
    val root = freshRoot("upsert-test-race")
    import spark.implicits._
    val base = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("doc_id", "text", "lang")
    base.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    def batch(id: Long, lang: String) =
      Seq((id, s"new-$id", lang)).toDF("doc_id", "text", "lang")
    val ts = Seq((10L, "x"), (11L, "y")).map { case (id, lang) =>
      new Thread(() => TxLog.upsertPartitioned(spark, root, batch(id, lang), "doc_id", "lang"))
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    val after = TxLog.read(spark, root)
    assert(after.count() === 4)
    assert(after.filter(col("doc_id") >= 10).count() === 2)
    assert(TxLog.currentVersion(root) === 3L) // adopt + two serialized commits
  }

  test("partition-scoped merge: additive batch columns land, old rows surface NULL; retypes rejected") {
    val root = freshRoot("upsert-test-evolve")
    import spark.implicits._
    val base = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("doc_id", "text", "lang")
    base.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))

    // batch touches partition x AND adds a column: the additive gate runs
    // on the BATCH schema (before union coercion), the merge fills old
    // rows with NULL, and the committed schema grows
    val add = Seq((3L, "c", "x", 9)).toDF("doc_id", "text", "lang", "score")
    TxLog.upsertPartitioned(spark, root, add, "doc_id", "lang")
    val after = TxLog.read(spark, root).orderBy("doc_id").collect()
    assert(after.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(after.map(r => Option(r.get(r.fieldIndex("score")))).toSeq ===
      Seq(None, None, Some(9)))
    assert(TxLog.snapshot(root).get.schemaJson.exists(_.contains("score")))

    // a RETYPED column must be rejected by the gate, not silently coerced
    // by the union (which would stringify it)
    val retype = Seq((4L, 7, "x", 1)).toDF("doc_id", "text", "lang", "score")
    intercept[IllegalArgumentException] {
      TxLog.upsertPartitioned(spark, root, retype, "doc_id", "lang")
    }
    assert(TxLog.read(spark, root).count() === 3)
  }

  test("partition columns with unstable path rendering are refused loudly") {
    // a timestamp's Row-value toString differs from Spark's hive path
    // rendering, so touched-partition matching would silently keep AND
    // restage the same partition (duplicate rows) — rejected up front
    import spark.implicits._
    val batch = Seq((1L, "a", java.sql.Timestamp.valueOf("2026-08-14 00:00:00")))
      .toDF("doc_id", "text", "ts")
    val e = intercept[IllegalArgumentException] {
      TxLog.upsertPartitioned(spark, freshRoot("upsert-test-unstable"), batch, "doc_id", "ts")
    }
    assert(e.getMessage.contains("not"))
  }

  test("upsertPartitioned on an uninitialized root creates the table") {
    val root = freshRoot("upsert-test-create")
    val batch = src.limit(20)
    val stats = TxLog.upsertPartitioned(spark, root, batch, "doc_id", "lang")
    assert(stats.forall(s => s.rowsBefore === 0L && s.rowsAfter === s.batchRows))
    assert(stats.map(_.batchRows).sum === 20L)
    assert(TxLog.read(spark, root).count() === 20)
    assert(TxLog.snapshot(root).get.partCol === Some("lang"))
  }
}
