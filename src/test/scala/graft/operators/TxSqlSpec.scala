package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL frontend over TxLog tables: DELETE routes to the
  * transactional copy-on-write delete, time travel pins via VERSION AS
  * OF / TIMESTAMP AS OF (exact manifest commit headers), rewritten
  * statements otherwise behave as plain Spark SQL, and the frontend
  * leaves no catalog residue. */
class TxSqlSpec extends SparkSpec {

  import SqlSurface.TxSql

  test("DELETE is the transactional delete: versioned, NULL-predicate rows survive") {
    val root = freshRoot("txsql-del")
    val t = spark.sql(
      "SELECT * FROM VALUES (1L, 1), (2L, 2), (3L, CAST(NULL AS INT)) AS t(doc_id, score)")
    TxLog.init(spark, root, t)
    val res = TxSql.sql(spark, s"DELETE FROM txlog.`$root` WHERE score > 1")
    assert(res.head.getLong(0) === 2L) // published version as DML result
    // SQL DELETE semantics: the NULL-score row is unmatched and survives
    assert(TxLog.read(spark, root).orderBy("doc_id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // v1 still pinnable through SQL
    assert(TxSql.sql(spark,
      s"SELECT count(*) AS n FROM txlog.`$root` VERSION AS OF 1").head.getLong(0) === 3L)
  }

  test("time travel: VERSION AS OF and TIMESTAMP AS OF hit the pinned snapshots; bad pins throw") {
    val root = freshRoot("txsql-tt")
    import spark.implicits._
    TxLog.init(spark, root, Seq(1L).toDF("v"))
    val t1 = System.currentTimeMillis()
    Thread.sleep(30L)
    TxLog.commitOverwrite(spark, root, Seq(1L, 2L, 3L).toDF("v"), expected = 1L)

    assert(TxSql.sql(spark,
      s"SELECT count(*) AS n FROM txlog.`$root` VERSION AS OF 1").head.getLong(0) === 1L)
    assert(TxSql.sql(spark,
      s"SELECT count(*) AS n FROM txlog.`$root` TIMESTAMP AS OF $t1").head.getLong(0) === 1L)
    assert(TxSql.sql(spark,
      s"SELECT count(*) AS n FROM txlog.`$root`").head.getLong(0) === 3L)
    intercept[IllegalArgumentException] {
      TxSql.sql(spark,
        s"SELECT count(*) AS n FROM txlog.`$root` TIMESTAMP AS OF ${t1 - 3600000L}")
    }
  }

  test("UPDATE: assignments see the ORIGINAL row; NULL-predicate rows survive unchanged") {
    val root = freshRoot("txsql-upd")
    val t = spark.sql(
      """SELECT * FROM VALUES (1L, 10L, 100L, 1), (2L, 20L, 200L, 2),
        |(3L, 30L, 300L, CAST(NULL AS INT)) AS t(id, a, b, flag)""".stripMargin)
    TxLog.init(spark, root, t)
    // the classic swap: if assignments chained, b would get the NEW a
    val res = TxSql.sql(spark,
      s"UPDATE txlog.`$root` SET a = b, b = a WHERE flag >= 2")
    assert(res.head.getLong(0) === 2L)
    val rows = TxLog.read(spark, root).orderBy("id").collect()
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((10L, 100L), (200L, 20L), (30L, 300L))) // row 2 swapped; NULL-flag row 3 untouched
    // multi-assignment with function calls (the paren-aware SET split)
    TxSql.sql(spark,
      s"UPDATE txlog.`$root` SET a = greatest(a, b + 1), b = least(a, 5) WHERE id = 1")
    val r1 = TxLog.read(spark, root).filter(col("id") === 1).head
    assert((r1.getLong(1), r1.getLong(2)) === (101L, 5L))
  }

  test("MERGE is the keyed upsert; its USING subquery time-travels into the same table") {
    val root = freshRoot("txsql-merge")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    TxSql.sql(spark, s"DELETE FROM txlog.`$root` WHERE id = 3") // v2
    // backfill id=3 from v1 (self-referential time travel) + replace id=1
    val res = TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT id, upper(s) AS s FROM txlog.`$root` VERSION AS OF 1
         |  WHERE id IN (1, 3)
         |) src ON id""".stripMargin)
    assert(res.head.getLong(0) === 3L)
    val rows = TxLog.read(spark, root).orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "A"), (2L, "b"), (3L, "C")))
  }

  test("conditional MERGE: every clause category, first-true-wins order, " +
      "src-alias scoping") {
    val root = freshRoot("txsql-cmerge")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40),
        (5L, "e", 50)).toDF("id", "s", "qty"))
    // source: matches 1..3 (with per-row qty), brings 6 and 7
    val res = TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT * FROM VALUES (1, 'A', 99), (2, 'B', 5), (3, 'X', 77),
         |                       (6, 'f', 60), (7, 'g', 7) AS t(id, s, qty)
         |) src ON id
         |WHEN MATCHED AND src.qty > qty THEN UPDATE SET s = src.s, qty = src.qty
         |WHEN MATCHED AND src.s = 'X' THEN DELETE
         |WHEN NOT MATCHED AND src.qty >= 10 THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND qty >= 50 THEN UPDATE SET s = 'stale'
         |""".stripMargin)
    assert(res.head.getLong(0) === 2L)
    val rows = TxLog.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows === Seq(
      (1L, "A", 99),     // matched, src.qty 99 > 10 → updated (clause 1)
      (2L, "b", 20),     // matched, 5 > 20 false, 'B' != 'X' → carried
      // 3 matched: clause 1 false (77 > 30 TRUE — wait, see below)
      (3L, "X", 77),     // matched, src.qty 77 > 30 → clause 1 wins over DELETE
      (4L, "d", 40),     // not matched by source, qty < 50 → carried
      (5L, "stale", 50), // not matched by source, qty >= 50 → updated
      (6L, "f", 60)))    // not matched, qty >= 10 → inserted; 7 (qty 7) not
  }

  test("conditional MERGE plan shape: ONE full-outer join on the key, " +
      "no cartesian product, no driver-side row movement") {
    val root = freshRoot("txsql-cmplan")
    import spark.implicits._
    TxLog.init(spark, root,
      (1L to 2000L).map(k => (k, s"v$k")).toDF("id", "s"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      TxLog.mergeInto(spark, root,
        (1500L to 2500L).map(k => (k, s"n$k")).toDF("id", "s"), "id",
        matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
        notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)))
      // listener delivery is async; poll briefly for the plan to land
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!plans.toArray(Array.empty[String]).exists(_.contains("FullOuter"))
        && System.nanoTime() < deadline) Thread.sleep(50)
      val all = plans.toArray(Array.empty[String])
      assert(all.exists(_.contains("FullOuter")),
        "the merge must plan as one full-outer join")
      assert(!all.exists(_.contains("CartesianProduct")),
        "no plan in the merge may contain a cartesian product")
      // exactly one join in the plan that carries the full-outer merge
      val mergePlan = all.filter(_.contains("FullOuter"))
      assert(mergePlan.forall(p =>
        "Join".r.findAllIn(p).size >= 1 && !p.contains("BroadcastNestedLoop")))
    } finally spark.listenerManager.unregister(listener)
    assert(TxLog.read(spark, root).count() === 2500L)
  }

  test("conditional MERGE prunes by the source key range: files outside " +
      "it carry by reference; a BY SOURCE clause forces the full pass") {
    val root = freshRoot("txsql-cmprune")
    import spark.implicits._
    TxLog.init(spark, root,
      (0L until 1000L).map(k => (k, s"v$k")).toDF("id", "s").coalesce(1))
    TxLog.appendOnce(spark, root, "b",
      (1000L until 2000L).map(k => (k, s"v$k")).toDF("id", "s").coalesce(1))
    val before = TxLog.snapshot(root).get
    assert(before.entries.size === 2)
    // source keys live entirely in file B's range (plus fresh inserts)
    TxLog.mergeInto(spark, root,
      ((1500L until 1510L).map(k => (k, "U")) ++
        (5000L until 5005L).map(k => (k, "N"))).toDF("id", "s"), "id",
      matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
      notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)))
    val after = TxLog.snapshot(root).get
    val keptA = before.entries.head
    assert(after.entries.map(e => (e.path, e.size)).contains(
      (keptA.path, keptA.size)),
      "the file whose stats exclude the source key range must carry " +
        "byte-identical")
    val got = TxLog.read(spark, root)
    assert(got.count() === 2005L)
    assert(got.filter(col("s") === "U").count() === 10L)
    assert(got.filter(col("s") === "N").count() === 5L)
    assert(got.filter(col("id") < 1000L && col("s").startsWith("v"))
      .count() === 1000L)
    // a NOT MATCHED BY SOURCE clause inspects every row: whole-table pass
    TxLog.mergeInto(spark, root,
      Seq((1L, "x")).toDF("id", "s"), "id",
      matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
      notMatchedBySource = Seq(TxLog.MergeClause(
        Some(col("id") >= 5000L), TxLog.MergeDelete)))
    val after2 = TxLog.snapshot(root).get
    assert(!after2.entries.map(_.path).contains(keptA.path),
      "a BY SOURCE merge must restage everything (every row inspected)")
    assert(TxLog.read(spark, root).count() === 2000L)
  }

  test("conditional MERGE cost tracks the touched key range: a " +
      "key-clustered table restages one file at 2 and at 16 files; a " +
      "hash-partitioned one restages every file at both") {
    val rowsPerFile = 200L
    // the same merge at every size: update every key of the first
    // rowsPerFile ids, insert [-10, 0) — one range-clustered file's keys.
    // Returns the restaged files: those whose (path, size) does not
    // survive the merge.
    def restaged(nFiles: Int, clustered: Boolean): Int = {
      val root = freshRoot(s"txsql-cmscale-$nFiles")
      val n = nFiles * rowsPerFile
      // spark.range slices are contiguous: one disjoint key range per file
      val t = spark.range(0L, n, 1L, nFiles).toDF("id")
        .withColumn("s", concat(lit("v"), col("id").cast("string")))
      TxLog.init(spark, root,
        if (clustered) t else t.repartition(nFiles, col("id")))
      val before = TxLog.snapshot(root).get
      assert(before.entries.size === nFiles)
      TxLog.mergeInto(spark, root,
        spark.range(-10L, rowsPerFile).toDF("id").withColumn("s", lit("U")),
        "id",
        matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
        notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)))
      val kept = TxLog.snapshot(root).get.entries.map(e => (e.path, e.size)).toSet
      assert(TxLog.read(spark, root).filter(col("s") === "U").count() ===
        rowsPerFile + 10L)
      before.entries.count(e => !kept((e.path, e.size)))
    }
    assert(restaged(2, clustered = true) === 1)
    assert(restaged(16, clustered = true) === 1)
    assert(restaged(2, clustered = false) === 2)
    assert(restaged(16, clustered = false) === 16)
  }

  test("scoped MERGE (ON key AND scope): BY-SOURCE reconciliation only " +
      "inspects in-scope files; out-of-scope files carry byte-identical") {
    val root = freshRoot("txsql-cmscope")
    import spark.implicits._
    TxLog.init(spark, root,
      (0L until 1000L).map(k => (k, s"v$k")).toDF("id", "s").coalesce(1))
    TxLog.appendOnce(spark, root, "b",
      (1000L until 2000L).map(k => (k, s"v$k")).toDF("id", "s").coalesce(1))
    val before = TxLog.snapshot(root).get
    val lowFile = before.entries.head
    // reconcile the UPPER range to the source: in-scope rows absent from
    // the source delete, matched rows update, new keys insert — and the
    // low file (provably out of scope by its stats) must carry, which an
    // unscoped BY-SOURCE merge can never do
    TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT id, 'S' || CAST(id AS STRING) AS s FROM VALUES (1000),
         |    (1001), (1002) AS t(id)
         |  UNION ALL SELECT 5000, 'N5000'
         |  UNION ALL SELECT 3, 'OUT'
         |) src ON id AND id >= 1000
         |WHEN MATCHED THEN UPDATE SET s = src.s
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val after = TxLog.snapshot(root).get
    assert(after.entries.map(e => (e.path, e.size)).contains(
      (lowFile.path, lowFile.size)),
      "the out-of-scope file must carry byte-identical through a scoped " +
        "BY-SOURCE merge")
    val got = TxLog.read(spark, root)
    // in scope: 1000-1002 updated, everything else ≥1000 deleted, 5000
    // inserted. Out of scope: 0..999 untouched — INCLUDING id=3, whose
    // source row matched only an out-of-scope target row and therefore
    // fell to NOT MATCHED and INSERTED (the documented `ON key AND scope`
    // SQL footgun: both id=3 rows now exist)
    assert(got.filter(col("id") >= 1000L).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1000L, "S1000"), (1001L, "S1001"), (1002L, "S1002"),
        (5000L, "N5000")))
    assert(got.filter(col("id") < 1000L).count() === 1001L)
    assert(got.filter(col("id") === 3L).orderBy("s").collect()
      .map(_.getString(1)).toSeq === Seq("OUT", "v3"),
      "a source key matching only out-of-scope rows inserts (SQL answer)")
    // scope composes with MATCHED-only merges too: row-level split —
    // a matched key OUTSIDE the scope stays untouched
    TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT 1000 AS id, 'T' AS s UNION ALL SELECT 5 AS id, 'T' AS s
         |) src ON id AND id >= 1000
         |WHEN MATCHED THEN UPDATE SET s = src.s""".stripMargin)
    assert(TxLog.read(spark, root).filter(col("id") === 1000L)
      .head().getString(1) === "T")
    assert(TxLog.read(spark, root).filter(col("id") === 5L)
      .head().getString(1) === "v5",
      "a matched key outside the scope must stay untouched")
  }

  test("MERGE column-list INSERT: INSERT (cols) VALUES (exprs) casts to " +
      "target types, defaults unlisted columns to NULL, validates arity") {
    val root = freshRoot("txsql-cmins")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "n"))
    TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT 3 AS id, 'c' AS s UNION ALL SELECT 4 AS id, 'd' AS s
         |) src ON id
         |WHEN NOT MATCHED AND src.id % 2 = 0
         |  THEN INSERT (id) VALUES (src.id)
         |WHEN NOT MATCHED THEN INSERT (id, s) VALUES (src.id, upper(src.s))""".stripMargin)
    val got = TxLog.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("-"),
        if (r.isNullAt(2)) -1 else r.getInt(2)))
    // id=4 (even) hits the FIRST clause: only id set, s and n NULL;
    // id=3 the second: s = upper('c'), n NULL; the int source id CAST
    // to the bigint target key on both paths
    assert(got.toSeq === Seq((1L, "a", 10), (2L, "b", 20), (3L, "C", -1),
      (4L, "-", -1)))
    // malformed forms refuse loudly
    intercept[IllegalArgumentException] {
      TxSql.sql(spark,
        s"""MERGE INTO txlog.`$root` USING (SELECT 9 AS id) src ON id
           |WHEN NOT MATCHED THEN INSERT (id, s) VALUES (src.id)""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      TxSql.sql(spark,
        s"""MERGE INTO txlog.`$root` USING (SELECT 9 AS id) src ON id
           |WHEN NOT MATCHED THEN INSERT (nope) VALUES (src.id)""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      TxSql.sql(spark,
        s"""MERGE INTO txlog.`$root` USING (SELECT 9 AS id) src ON id
           |WHEN MATCHED THEN INSERT (id) VALUES (src.id)""".stripMargin)
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION: additive source columns evolve the " +
      "target in the same commit; without the opt-in the committed " +
      "schema stays authoritative; constraints gate the evolved images") {
    val root = freshRoot("txsql-emerge")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    // WITHOUT the opt-in: the extra source column is out of scope — the
    // merge lands under the committed schema, nothing widens
    TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT * FROM VALUES (1, 'A', 10) AS t(id, s, score)
         |) src ON id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "s"))
    // OPTED IN: the new column widens the schema in the same commit —
    // matched rows take it from the source, untouched rows surface NULL
    // (the evolve-on-read semantics of every additive commit)
    val res = TxSql.sql(spark,
      s"""MERGE WITH SCHEMA EVOLUTION INTO txlog.`$root` USING (
         |  SELECT * FROM VALUES (2, 'B', CAST(20 AS BIGINT)),
         |                       (9, 'n', CAST(90 AS BIGINT)) AS t(id, s, score)
         |) src ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(res.head.getLong(0) === 3L)
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "s", "score"))
    val rows = TxLog.read(spark, root).orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows === Seq((1L, "A", -1L), (2L, "B", 20L), (3L, "c", -1L),
      (9L, "n", 90L)))
    // time travel: the pre-evolution version keeps its own schema
    assert(TxLog.read(spark, root, 2L).columns.toSeq === Seq("id", "s"))
    // CHECK constraints still gate evolved post-images
    TxLog.addConstraint(spark, root, "score_cap",
      "score IS NULL OR score < 100") // v4
    intercept[IllegalArgumentException] {
      TxLog.mergeInto(spark, root,
        Seq((9L, "z", 500L)).toDF("id", "s", "score"), "id",
        matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
        schemaEvolution = true)
    }
    // evolution composes with column mapping: rename, then evolve again —
    // the new column gets a fresh physical name, logical reads are exact
    TxLog.renameColumn(spark, root, "s", "txt") // v5
    TxLog.mergeInto(spark, root,
      Seq((3L, "C", 33L, "x3")).toDF("id", "txt", "score", "tag"), "id",
      matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
      notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)),
      schemaEvolution = true) // v6
    assert(TxLog.read(spark, root).columns.toSeq ===
      Seq("id", "txt", "score", "tag"))
    val rows2 = TxLog.read(spark, root).orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        Option(r.getString(3)).getOrElse("-"))).toSeq
    assert(rows2 === Seq((1L, "A", -1L, "-"), (2L, "B", 20L, "-"),
      (3L, "C", 33L, "x3"), (9L, "n", 90L, "-")))
  }

  test("conditional MERGE on a PARTITIONED table: partial path restages " +
      "hive partitions, partition columns survive") {
    val root = freshRoot("txsql-cmpart")
    import spark.implicits._
    // keys CLUSTER by partition (l0: 0..99, l1: 100..199, l2: 200..299),
    // so per-file footer stats have disjoint key ranges and the source's
    // range [150, 160] prunes l0 and l2 outright
    TxLog.initPartitioned(spark, root,
      (0L until 300L).map(k => (k, s"v$k", s"l${k / 100}"))
        .toDF("id", "s", "lang"), Seq("lang"), note = "")
    val before = TxLog.snapshot(root).get
    TxLog.mergeInto(spark, root,
      (150L to 160L).map(k => (k, "U", "l1")).toDF("id", "s", "lang"), "id",
      matched = Seq(TxLog.MergeClause(None,
        TxLog.MergeUpdate(Seq("s" -> col("src.s"))))),
      notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)))
    val after = TxLog.snapshot(root).get
    val untouched = before.entries.filter(e =>
      e.part.exists(p => p == "l0" || p == "l2")).map(e => (e.path, e.size))
    assert(untouched.nonEmpty && untouched.forall(
      after.entries.map(e => (e.path, e.size)).contains(_)),
      "partitions whose stats exclude the source key range must carry " +
        "byte-identical through the merge")
    val got = TxLog.read(spark, root)
    assert(got.count() === 300L)
    assert(got.filter(col("s") === "U").count() === 11L)
    assert(got.filter(col("id") === 150L).select("lang").head()
      .getString(0) === "l1",
      "the matched row's partition value must survive the update")
    // a merge INSERT bringing a NEW partition value lands in its own
    // hive partition
    TxLog.mergeInto(spark, root,
      Seq((900L, "N", "l9")).toDF("id", "s", "lang"), "id",
      notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)))
    val census = TxLog.read(spark, root).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census === Map("l0" -> 100L, "l1" -> 100L, "l2" -> 100L,
      "l9" -> 1L))
  }

  test("conditional MERGE: NOT MATCHED BY SOURCE DELETE (reconciliation) " +
      "and NULL-condition rows carry unchanged") {
    val root = freshRoot("txsql-recon")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, Some(1)), (2L, None), (3L, Some(3))).toDF("id", "v"))
    // reconcile to the source: rows absent from the source go — except
    // the NULL-condition row (SQL: a NULL WHEN-cond never fires)
    TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT * FROM VALUES (1, 100) AS t(id, v)
         |) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND v > 0 THEN DELETE""".stripMargin)
    val rows = TxLog.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    // id=3 deleted (v>0), id=2 survives (NULL cond), id=1 updated
    assert(rows.toSeq === Seq((1L, 100), (2L, -1)))
    // duplicate source keys that MATCH a target row refuse (SQL MERGE's
    // multi-match error — two source rows would hit the same target row)
    val ex = intercept[IllegalArgumentException] {
      TxSql.sql(spark,
        s"""MERGE INTO txlog.`$root` USING (
           |  SELECT * FROM VALUES (1, 1), (1, 2) AS t(id, v)
           |) ON id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(ex.getMessage.contains("multi-match"))
    // ...but the refusal is scoped to actual multi-MATCHES, standard
    // MERGE semantics: duplicate NULL-keyed source rows match nothing
    // (legal), and duplicate keys absent from the target only fire NOT
    // MATCHED — the legal multi-row INSERT
    TxSql.sql(spark,
      s"""MERGE INTO txlog.`$root` USING (
         |  SELECT * FROM VALUES (CAST(NULL AS BIGINT), 7),
         |                       (CAST(NULL AS BIGINT), 8),
         |                       (90, 90), (90, 91) AS t(id, v)
         |) ON id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = TxLog.read(spark, root).orderBy("id", "v").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1)))
    // both NULL-keyed rows and both key-90 rows inserted; 1/2 untouched
    assert(after.toSeq === Seq((-1L, 7), (-1L, 8), (1L, 100), (2L, -1),
      (90L, 90), (90L, 91)))
  }

  test("OPTIMIZE and VACUUM statements: compaction with metadata no-op, grace-windowed sweep") {
    val root = freshRoot("txsql-opt")
    import spark.implicits._
    TxLog.init(spark, root, spark.range(64).select(col("id")).repartition(16))
    assert(TxLog.snapshot(root).get.files.size === 16)
    val v = TxSql.sql(spark, s"OPTIMIZE txlog.`$root` TARGET 2").head.getLong(0)
    assert(TxLog.snapshot(root).get.files.size <= 2)
    assert(TxLog.read(spark, root).count() === 64)
    // at target: metadata-only no-op, same version
    assert(TxSql.sql(spark, s"OPTIMIZE txlog.`$root` TARGET 2").head.getLong(0) === v)
    // RETAIN 0 HOURS = ungraced; v1's 16-file dir sweeps after prune
    TxLog.pruneHistory(root, keepLast = 1)
    assert(TxSql.sql(spark, s"VACUUM txlog.`$root` RETAIN 0 HOURS").head.getInt(0) === 1)
    assert(TxLog.read(spark, root).count() === 64)
  }

  test("RESTORE is metadata-only: content rolls back, history and the note ledger do not") {
    val root = freshRoot("txsql-restore")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    TxLog.foldOnce(spark, root, "batch-7", {
      case Some(cur) => cur.filter(col("id") =!= 2)
      case None => fail("store exists"); ???
    }) // v2: id=2 gone, tag batch-7 committed
    val dataDirs = () => Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty).count(_.isDirectory)
    val dirsBefore = dataDirs()
    val v = TxSql.sql(spark, s"RESTORE txlog.`$root` TO VERSION AS OF 1")
      .head.getLong(0)
    assert(v === 3L)
    assert(dataDirs() === dirsBefore, "restore staged data — must be metadata-only")
    assert(TxLog.read(spark, root).count() === 3) // v1 content is back
    assert(TxLog.read(spark, root, 2L).count() === 2) // history preserved
    // the replay ledger did NOT roll back: batch-7 still no-ops
    assert(!TxLog.foldOnce(spark, root, "batch-7", { case c => c.get }))
    // restoring a pruned version is refused
    TxLog.pruneHistory(root, keepLast = 1)
    intercept[IllegalArgumentException] {
      TxLog.restore(spark, root, 2L)
    }
  }

  test("RESTORE across a rename brings the old logical schema back") {
    val root = freshRoot("txsql-restore-map")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a")).toDF("doc_id", "text"))
    TxLog.renameColumn(spark, root, "text", "body")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("doc_id", "body"))
    TxLog.restore(spark, root, 1L)
    assert(TxLog.read(spark, root).columns.toSeq === Seq("doc_id", "text"))
  }

  test("readAppended: manifest-resolved increments; rewrite ranges refuse; mapping applies") {
    val root = freshRoot("txsql-incr")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    TxLog.appendOnceMonotone(spark, root, "b", 1L, Seq((3L, "c")).toDF("doc_id", "text"))
    TxLog.appendOnceMonotone(spark, root, "b", 2L, Seq((4L, "d")).toDF("doc_id", "text"))
    assert(TxLog.readAppended(spark, root, 1L).orderBy("doc_id").collect()
      .map(_.getLong(0)).toSeq === Seq(3L, 4L))
    assert(TxLog.readAppended(spark, root, 2L, 3L).collect()
      .map(_.getLong(0)).toSeq === Seq(4L))
    // empty range: schema-correct zero-row frame
    val empty = TxLog.readAppended(spark, root, 3L, 3L)
    assert(empty.columns.toSeq === Seq("doc_id", "text") && empty.count() === 0)
    // a rename mid-stream: increments surface LOGICAL names
    TxLog.renameColumn(spark, root, "text", "body") // v4 (metadata-only: no files change)
    TxLog.commitAppend(spark, root, Seq((5L, "e")).toDF("doc_id", "body"),
      expected = 4L) // v5
    val inc = TxLog.readAppended(spark, root, 3L, 5L)
    assert(inc.columns.toSeq === Seq("doc_id", "body"))
    assert(inc.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((5L, "e")))
    // a rewrite inside the range refuses loudly
    TxLog.delete(spark, root, col("doc_id") === 1L) // v6
    intercept[IllegalArgumentException] {
      TxLog.readAppended(spark, root, 1L)
    }
    // ranges after the rewrite work again
    assert(TxLog.readAppended(spark, root, 6L, 6L).count() === 0)
  }

  test("DESCRIBE HISTORY: retained commits newest first with exact timestamps") {
    val root = freshRoot("txsql-hist")
    import spark.implicits._
    TxLog.init(spark, root, Seq(1L).toDF("v"))
    TxLog.commitAppend(spark, root, Seq(2L).toDF("v"), expected = 1L, note = "load")
    TxLog.delete(spark, root, col("v") === 99L)
    val h = TxSql.sql(spark, s"DESCRIBE HISTORY txlog.`$root`").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(3L, 2L, 1L))
    val ts = h.map(_.getLong(1))
    assert(ts.zip(ts.tail).forall { case (newer, older) => newer >= older })
    assert(h.forall(_.getInt(2) > 0))
    assert(h(1).getSeq[String](3).contains("load"))
    // prune: history shrinks to the retained suffix
    TxLog.pruneHistory(root, keepLast = 1)
    assert(TxLog.history(root).map(_.version) === Seq(3L))
  }

  test("DESCRIBE CHANGES: the row-level feed as a statement (FROM, FROM..TO)") {
    val root = freshRoot("txsql-changes")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxLog.appendOnce(spark, root, "b1", Seq((3L, "c")).toDF("id", "s"))
    TxLog.deleteMoR(spark, root, col("id") === 1L)
    val feed = TxSql.sql(spark, s"DESCRIBE CHANGES txlog.`$root` FROM 1")
      .collect().map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("id"), r.getAs[Long]("_commit_version"))).sorted
    assert(feed.toSeq === Seq(("delete", 1L, 3L), ("insert", 3L, 2L)))
    // bounded TO: only the append
    val sub = TxSql.sql(spark, s"DESCRIBE CHANGES txlog.`$root` FROM 1 TO 2")
    assert(sub.count() === 1L)
    assert(sub.head().getAs[String]("_change_type") === "insert")
  }

  test("DESCRIBE DETAIL: one-row manifest summary, exact sizes and rows") {
    val root = freshRoot("txsql-detail")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    TxLog.renameColumn(spark, root, "s", "label")
    val d = TxSql.sql(spark, s"DESCRIBE DETAIL txlog.`$root`").collect()(0)
    val snap = TxLog.snapshot(root).get
    assert(d.getAs[Long]("version") === snap.version)
    assert(d.getAs[Int]("n_files") === snap.entries.size)
    assert(d.getAs[Long]("size_bytes") === snap.entries.flatMap(_.size).sum)
    assert(d.getAs[Long]("n_rows") === 3L)
    assert(d.getAs[scala.collection.Seq[String]]("part_cols").isEmpty)
    // fields surface LOGICAL names (the mapping applied)
    assert(d.getAs[scala.collection.Seq[String]]("fields").toSet === Set("id", "label"))
    // partitioned: part_cols ride through
    val pRoot = freshRoot("txsql-detailp")
    val docs = Seq((1L, "x", "en"), (2L, "y", "fr")).toDF("id", "t", "lang")
    docs.write.partitionBy("lang").parquet(pRoot)
    TxLog.adopt(spark, pRoot, Some("lang"))
    val dp = TxSql.sql(spark, s"DESCRIBE DETAIL txlog.`$pRoot`").collect()(0)
    assert(dp.getAs[scala.collection.Seq[String]]("part_cols") === Seq("lang"))
    assert(dp.getAs[Long]("n_rows") === 2L)
    // SHOW PARTITIONS: the manifest census — values, file and row counts
    val parts = TxSql.sql(spark, s"SHOW PARTITIONS txlog.`$pRoot`")
      .orderBy("partition").collect()
    assert(parts.map(_.getString(0)).toSeq === Seq("lang=en", "lang=fr"))
    assert(parts.forall(r => r.getInt(1) >= 1 && r.getLong(2) === 1L))
    intercept[IllegalArgumentException] {
      TxSql.sql(spark, s"SHOW PARTITIONS txlog.`$root`") // unpartitioned
    }
  }

  test("two versions of the same table join in one statement; no catalog residue") {
    val root = freshRoot("txsql-join")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxLog.commitOverwrite(spark, root,
      Seq((1L, "a2"), (3L, "c")).toDF("id", "s"), expected = 1L)
    val rows = TxSql.sql(spark,
      s"""SELECT old.id AS id, old.s AS old_s, new.s AS new_s
         |FROM txlog.`$root` VERSION AS OF 1 old
         |JOIN txlog.`$root` VERSION AS OF 2 new ON old.id = new.id
         |ORDER BY id""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "a", "a2")))
    // the frontend's temp views are dropped once the statement resolves
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("txlog_v_")))
  }

  test("statement scanning is blind to string literals (commas, WHERE, txlog refs inside quotes)") {
    val root = freshRoot("txsql-quotes")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1L, "x"), (2L, "y")).toDF("id", "s"))

    // SET list: a quoted comma must not split the assignment; a quoted
    // WHERE must not steal the real WHERE clause
    TxSql.sql(spark,
      s"UPDATE txlog.`$root` SET s = 'a,b WHERE c' WHERE id = 1")
    val after = TxLog.read(spark, root).orderBy("id").collect()
    assert(after(0).getString(1) === "a,b WHERE c")
    assert(after(1).getString(1) === "y")

    // doubled-quote escape inside the literal, plus a function call with
    // a comma at paren depth 1 in a second assignment
    TxSql.sql(spark,
      s"UPDATE txlog.`$root` SET s = concat('it''s, fine', ')') WHERE id = 2")
    val after2 = TxLog.read(spark, root).orderBy("id").collect()
    assert(after2(1).getString(1) === "it's, fine)")

    // a txlog.`...` occurrence INSIDE a literal is data, not a reference:
    // it must pass through the rewrite verbatim
    val row = TxSql.sql(spark,
      s"SELECT 'see txlog.`not-a-table`' AS tip, count(*) AS n FROM txlog.`$root`")
      .head
    assert(row.getString(0) === "see txlog.`not-a-table`")
    assert(row.getLong(1) === 2L)

    // DELETE with a literal predicate value containing a comma
    TxSql.sql(spark, s"DELETE FROM txlog.`$root` WHERE s = 'a,b WHERE c'")
    assert(TxLog.read(spark, root).count() === 1L)

    // missing top-level WHERE (only a quoted one) fails loudly, not wrongly
    val e = intercept[IllegalArgumentException] {
      TxSql.sql(spark, s"UPDATE txlog.`$root` SET s = 'x WHERE y'")
    }
    assert(e.getMessage.contains("WHERE"))
  }

  test("CREATE TABLE AS / INSERT INTO: the SQL ingest path — versioned " +
      "appends, loud refusals on existing/missing tables") {
    val root = freshRoot("txsql-ctas")
    val v1 = TxSql.sql(spark,
      s"CREATE TABLE txlog.`$root` AS SELECT id AS doc_id, id % 7 AS m " +
        "FROM range(100)").head.getLong(0)
    assert(v1 === 1L)
    // CREATE over an existing table refuses (no silent replace)
    intercept[IllegalStateException] {
      TxSql.sql(spark, s"CREATE TABLE txlog.`$root` AS SELECT 1 AS doc_id")
    }
    val v2 = TxSql.sql(spark,
      s"INSERT INTO txlog.`$root` SELECT id AS doc_id, id % 7 AS m " +
        "FROM range(100, 150)").head.getLong(0)
    assert(v2 === 2L)
    assert(TxLog.read(spark, root).count() === 150L)
    // the select may reference txlog tables, including version pins —
    // self-append of the table's own v1
    TxSql.sql(spark, s"INSERT INTO txlog.`$root` " +
      s"SELECT doc_id + 1000 AS doc_id, m FROM txlog.`$root` " +
      "VERSION AS OF 1 WHERE doc_id < 10")
    assert(TxLog.read(spark, root).count() === 160L)
    // INSERT INTO a missing table refuses (a typo'd path must not mint
    // a fresh table)
    intercept[IllegalStateException] {
      TxSql.sql(spark,
        s"INSERT INTO txlog.`$root-nope` SELECT 1 AS doc_id")
    }
  }

  test("CREATE TABLE ... PARTITIONED BY lands a partitioned table whose " +
      "tags prune") {
    val root = freshRoot("txsql-ctas-part")
    TxSql.sql(spark,
      s"CREATE TABLE txlog.`$root` PARTITIONED BY (lang) AS " +
        "SELECT id AS doc_id, concat('l', CAST(id % 3 AS STRING)) AS lang " +
        "FROM range(90)")
    val snap = TxLog.snapshot(root).get
    assert(snap.partCols.map(_._1) === Seq("lang"))
    val (k, t) = TxLog.pruneEntries(spark, snap, "lang = 'l1'")
    assert(k.nonEmpty && k.size < t)
    assert(TxSql.sql(spark,
      s"SELECT count(*) AS n FROM txlog.`$root` WHERE lang = 'l1'")
      .head.getLong(0) === 30L)
  }

  test("INSERT OVERWRITE carries the table's metadata life (constraints " +
      "enforced, properties kept); CREATE OR REPLACE resets it") {
    val root = freshRoot("txsql-over")
    TxSql.sql(spark,
      s"CREATE TABLE txlog.`$root` AS SELECT id AS doc_id FROM range(10)")
    TxSql.sql(spark, s"ALTER TABLE txlog.`$root` ADD CONSTRAINT nonneg " +
      "CHECK (doc_id >= 0)")
    TxSql.sql(spark, s"ALTER TABLE txlog.`$root` SET TBLPROPERTIES " +
      "('owner' = 'ingest')")
    // a violating overwrite refuses — the constraint survived the replace
    intercept[IllegalArgumentException] {
      TxSql.sql(spark, s"INSERT OVERWRITE txlog.`$root` " +
        "SELECT id - 5 AS doc_id FROM range(6)")
    }
    val vOk = TxSql.sql(spark, s"INSERT OVERWRITE txlog.`$root` " +
      "SELECT id + 100 AS doc_id FROM range(4)").head.getLong(0)
    val snap = TxLog.snapshot(root).get
    assert(snap.version === vOk)
    assert(TxLog.read(spark, root).count() === 4L)
    assert(TxLog.constraintsOf(snap.notes).contains("nonneg"),
      "INSERT OVERWRITE must keep CHECK constraints")
    assert(TxLog.kvOf(snap.notes).get("owner") === Some("ingest"),
      "INSERT OVERWRITE must keep table properties")
    // the feed attributes the replace exactly (cdc_full): old rows out,
    // new rows in
    val feed = TxLog.readChanges(spark, root, vOk - 1, vOk)
    assert(feed.filter(col("_change_type") === "delete").count() === 10L)
    assert(feed.filter(col("_change_type") === "insert").count() === 4L)
    // CREATE OR REPLACE is the ledger RESET (the Delta OR-REPLACE shape)
    TxSql.sql(spark, s"CREATE OR REPLACE TABLE txlog.`$root` AS " +
      "SELECT id - 50 AS doc_id FROM range(3)")
    val snap2 = TxLog.snapshot(root).get
    assert(TxLog.constraintsOf(snap2.notes).isEmpty,
      "CREATE OR REPLACE must reset constraints")
    assert(TxLog.read(spark, root).count() === 3L)
    // OR REPLACE on a missing root is a plain create
    val root2 = freshRoot("txsql-over2")
    TxSql.sql(spark, s"CREATE OR REPLACE TABLE txlog.`$root2` AS " +
      "SELECT 1 AS doc_id")
    assert(TxLog.read(spark, root2).count() === 1L)
  }

  test("CREATE OR REPLACE at multi-column partition arity: same layout " +
      "replaces, a different layout refuses") {
    val root = freshRoot("txsql-over-mc")
    def sel(n: Int) =
      s"SELECT id AS doc_id, concat('l', CAST(id % 2 AS STRING)) AS lang, " +
        s"CAST(id % 3 AS INT) AS day FROM range($n)"
    TxSql.sql(spark, s"CREATE OR REPLACE TABLE txlog.`$root` " +
      s"PARTITIONED BY (lang, day) AS ${sel(60)}")
    assert(TxLog.snapshot(root).get.partCols.map(_._1) === Seq("lang", "day"))
    // same layout: replaces content, keeps the two-column partitioning
    TxSql.sql(spark, s"CREATE OR REPLACE TABLE txlog.`$root` " +
      s"PARTITIONED BY (lang, day) AS ${sel(12)}")
    val snap = TxLog.snapshot(root).get
    assert(snap.partCols.map(_._1) === Seq("lang", "day"))
    assert(TxLog.read(spark, root).count() === 12L)
    val (k, t) = TxLog.pruneEntries(spark, snap, "lang = 'l1' AND day = 0")
    assert(k.nonEmpty && k.size < t)
    // a DIFFERENT partition layout refuses loudly (fixed at creation)
    val ex = intercept[IllegalArgumentException] {
      TxSql.sql(spark, s"CREATE OR REPLACE TABLE txlog.`$root` " +
        s"PARTITIONED BY (lang) AS ${sel(5)}")
    }
    assert(ex.getMessage.contains("fixed at creation"))
  }

  test("CHECK constraints gate type-WIDENED post-images (append and upsert)") {
    import spark.implicits._
    val root = freshRoot("txsql-widen-chk")
    TxLog.init(spark, root, Seq((1, "en")).toDF("id", "lang"))
    TxLog.setProperties(root, Map("type_widening" -> "true"))
    TxLog.addConstraint(spark, root, "id_cap", "id < 4000000000")
    // a widened batch VIOLATING the constraint refuses at stage time —
    // nothing commits, the committed schema does not widen
    val vBefore = TxLog.currentVersion(root)
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, root,
        Seq((5000000000L, "de")).toDF("id", "lang"), expected = vBefore)
    }
    assert(TxLog.currentVersion(root) === vBefore)
    assert(TxLog.read(spark, root).schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType,
      "a refused widening batch must not retype the table")
    // a widened batch INSIDE the constraint commits and widens
    TxLog.commitAppend(spark, root,
      Seq((3000000000L, "de")).toDF("id", "lang"), expected = vBefore)
    assert(TxLog.read(spark, root).schema("id").dataType ===
      org.apache.spark.sql.types.LongType)
    // same gate through the keyed-upsert path on a partitioned twin
    val root2 = freshRoot("txsql-widen-chk-up")
    TxLog.initPartitioned(spark, root2,
      Seq((1, "x", "en")).toDF("id", "v", "lang"), "lang")
    TxLog.setProperties(root2, Map("type_widening" -> "true"))
    TxLog.addConstraint(spark, root2, "id_cap", "id < 4000000000")
    val v2 = TxLog.currentVersion(root2)
    intercept[IllegalArgumentException] {
      TxLog.upsertPartitioned(spark, root2,
        Seq((5000000000L, "w", "en")).toDF("id", "v", "lang"),
        key = "id", partCol = "lang")
    }
    assert(TxLog.currentVersion(root2) === v2)
    TxLog.upsertPartitioned(spark, root2,
      Seq((3000000000L, "w", "en")).toDF("id", "v", "lang"),
      key = "id", partCol = "lang")
    assert(TxLog.read(spark, root2).schema("id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(TxLog.read(spark, root2).count() === 2L)
  }

  test("ANALYZE stats drive the plan: fresh stats flip a dim-fact join " +
      "to broadcast, metadata commits keep them fresh, data commits stale them") {
    val root = freshRoot("txsql-statsbc")
    import spark.implicits._
    // dim whose ON-DISK bytes exceed the (test-scale) broadcast
    // threshold — incompressible md5-derived payload — while its exact
    // row count x defaultSize row width sits under it: precisely the
    // gap the ANALYZE-informed decision exists for
    def blob(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 8).map { j =>
        md.reset(); md.update(s"$i:$j".getBytes)
        md.digest().map("%02x".format(_)).mkString
      }.mkString // 256 incompressible chars
    }
    val dim = (0L until 1500L).map(i => (i, blob(i))).toDF("k", "payload")
    TxLog.init(spark, root, dim.repartition(2))
    val fact = spark.range(0L, 20000L).select(
      (col("id") % 1500L).as("k"), (col("id") * 7L).as("m"))
    fact.createOrReplaceTempView("statsbc_fact")
    val q = s"""SELECT f.k AS k, count(*) AS n, sum(f.m) AS sm
               |FROM statsbc_fact f JOIN txlog.`$root` d ON f.k = d.k
               |GROUP BY f.k""".stripMargin
    def planOf(): String = TxSql.sql(spark, q).queryExecution
      .executedPlan.toString
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "65536",
      "spark.sql.adaptive.enabled" -> "false") {
      // sanity: the dim really is over the threshold on disk (else this
      // test would pass vacuously off Spark's own size estimate)
      assert(TxLog.snapshot(root).get.entries.flatMap(_.size).sum > 65536L)
      // un-analyzed: sized by file bytes -> over threshold -> no broadcast
      val before = planOf()
      assert(!before.contains("BroadcastHashJoin"),
        s"un-analyzed dim must not broadcast:\n$before")
      val want = TxSql.sql(spark, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      // ANALYZE: 1500 rows x 36 B ~ 54 KB <= 64 KB -> broadcast hint
      TxSql.sql(spark, s"ANALYZE TABLE txlog.`$root` COMPUTE STATISTICS")
      val after = planOf()
      assert(after.contains("BroadcastHashJoin"),
        s"fresh-stats dim must broadcast:\n$after")
      // the flip changes the plan, never the answer
      val got = TxSql.sql(spark, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(got === want)
      // a metadata-only commit (property set) does NOT stale the stats:
      // the entry fingerprint, not the version number, is the freshness
      TxLog.setProperties(root, Map("owner" -> "teamx"))
      assert(planOf().contains("BroadcastHashJoin"),
        "metadata commit must not stale fresh stats")
      // a DATA commit does: planning on the old row count would be wrong
      TxLog.insertInto(spark, root, Seq((9999L, "late")).toDF("k", "payload"))
      val staled = planOf()
      assert(!staled.contains("BroadcastHashJoin"),
        s"data-staled stats must not hint:\n$staled")
    }
  }
}
