package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import graft.operators.SqlSurface.TxSql
import org.apache.spark.sql.functions._

/** CHECK constraints on the transaction log: add validates the existing
  * table; every row-introducing commit (append, streaming batch, upsert,
  * overwrite, UPDATE assignments) re-validates its frame and a violation
  * publishes NOTHING; SQL CHECK NULL semantics; rename/drop of a
  * constrained column refused; the constraint set is versioned with the
  * log (time travel sees each version's own). */
class ConstraintSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  test("addConstraint validates the existing table; violating adds refuse") {
    val root = freshRoot("chk-add")
    TxLog.init(spark, root, docs)
    assert(TxLog.addConstraint(spark, root, "pos_id", "doc_id >= 0") === 2L)
    val ex = intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, root, "impossible", "doc_id > 1000000")
    }
    assert(ex.getMessage.contains("impossible") &&
      ex.getMessage.contains("violated"))
    // the failed add published nothing
    assert(TxLog.currentVersion(root) === 2L)
    assert(TxLog.constraintsOf(TxLog.snapshot(root).get.notes) ===
      Map("pos_id" -> "doc_id >= 0"))
  }

  test("appends: violating batches refuse atomically, valid ones land") {
    val root = freshRoot("chk-append")
    import spark.implicits._
    TxLog.init(spark, root, docs)
    TxLog.addConstraint(spark, root, "pos_id", "doc_id >= 0")
    val n = TxLog.read(spark, root).count()
    val bad = Seq((-5L, "bad"), (7000000L, "ok")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      TxLog.appendOnce(spark, root, "bad-batch", bad)
    }
    assert(ex.getMessage.contains("pos_id") &&
      ex.getMessage.contains("1 row(s)"))
    assert(TxLog.read(spark, root).count() === n, "violating batch leaked rows")
    assert(TxLog.appendOnce(spark, root, "good-batch",
      Seq((7000001L, "ok")).toDF("doc_id", "text")))
    assert(TxLog.read(spark, root).count() === n + 1)
  }

  test("SQL CHECK NULL semantics: NULL expressions pass, FALSE refuses") {
    val root = freshRoot("chk-nulls")
    import spark.implicits._
    TxLog.init(spark, root,
      Seq((1L, Some(10)), (2L, None)).toDF("id", "score"))
    // row 2's score IS NULL → expression NULL → passes (SQL CHECK)
    TxLog.addConstraint(spark, root, "score_pos", "score > 0")
    // and a NULL-bearing batch still appends
    assert(TxLog.appendOnce(spark, root, "b",
      Seq((3L, None: Option[Int])).toDF("id", "score")))
    // while a FALSE row refuses
    intercept[IllegalArgumentException] {
      TxLog.appendOnce(spark, root, "c",
        Seq((4L, Some(-1))).toDF("id", "score"))
    }
    assert(TxLog.read(spark, root).count() === 3L)
  }

  test("UPDATE assignments and upserts are gated; survivors untouched") {
    val root = freshRoot("chk-update")
    TxLog.init(spark, root, docs)
    TxLog.addConstraint(spark, root, "has_text", "length(text) > 0")
    val ex = intercept[IllegalArgumentException] {
      TxLog.updateWhere(spark, root, col("doc_id") % 10 === 0,
        Seq("text" -> lit("")))
    }
    assert(ex.getMessage.contains("has_text"))
    assert(TxLog.read(spark, root).filter(length(col("text")) === 0).count() === 0L)
    // a violating upsert batch refuses too
    import spark.implicits._
    intercept[IllegalArgumentException] {
      TxLog.upsert(spark, root,
        Seq((1L, "")).toDF("doc_id", "text"), "doc_id")
    }
    // valid update passes
    TxLog.updateWhere(spark, root, col("doc_id") % 10 === 0,
      Seq("text" -> lit("VALID")))
    assert(TxLog.read(spark, root).filter(col("text") === "VALID").count() > 0)
  }

  test("rename/drop of a constrained column refused until the constraint drops") {
    val root = freshRoot("chk-rename")
    TxLog.init(spark, root, docs)
    TxLog.addConstraint(spark, root, "has_text", "length(text) > 0")
    val ex = intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, root, "text", "body")
    }
    assert(ex.getMessage.contains("has_text"))
    intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, root, "text")
    }
    // unconstrained columns still rename freely
    TxLog.renameColumn(spark, root, "doc_id", "id")
    TxLog.dropConstraint(root, "has_text")
    TxLog.renameColumn(spark, root, "text", "body")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "body"))
  }

  test("unparseable stored constraint fails the gate LOUDLY; nested refs " +
      "gate their top-level column") {
    val root = freshRoot("chk-loud")
    TxLog.init(spark, root, docs)
    // inject a corrupt constraint below addConstraint's validation (the
    // note surface is just kv properties) — the gate must refuse to
    // compute references rather than silently passing the rename
    TxLog.setProperties(root, Map("chk_corrupt" -> "((( not sql"))
    val ex = intercept[IllegalStateException] {
      TxLog.renameColumn(spark, root, "doc_id", "id")
    }
    assert(ex.getMessage.contains("failed to parse"))
    TxLog.dropConstraint(root, "corrupt")
    TxLog.renameColumn(spark, root, "doc_id", "id")
    assert(TxLog.read(spark, root).columns.contains("id"))
    // a nested-field reference (`meta.id`) gates the actual TOP-LEVEL
    // column `meta` — leaf-only matching would let it rename/drop away
    // and strand the constraint
    val sroot = freshRoot("chk-nestedgate")
    TxLog.init(spark, sroot,
      docs.select(struct(col("doc_id").as("id")).as("meta"), col("text")))
    TxLog.addConstraint(spark, sroot, "meta_id", "meta.id >= 0")
    intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, sroot, "meta")
    }
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, sroot, "meta", "info")
    }
  }

  test("SQL surface: ADD/DROP CONSTRAINT; streaming-shaped appendOnceMonotone gated") {
    val root = freshRoot("chk-sql")
    import spark.implicits._
    TxLog.init(spark, root, docs)
    val v = TxSql.sql(spark,
      s"ALTER TABLE txlog.`$root` ADD CONSTRAINT pos_id CHECK (doc_id >= 0)")
      .head().getLong(0)
    assert(v === 2L)
    // the monotone (streaming-sink) append path is gated at stage time
    intercept[IllegalArgumentException] {
      TxLog.appendOnceMonotone(spark, root, "stream", 1L,
        Seq((-1L, "bad")).toDF("doc_id", "text"))
    }
    // the refused batch wrote no ledger entry: the same id retries clean
    assert(TxLog.appendOnceMonotone(spark, root, "stream", 1L,
      Seq((8000001L, "ok")).toDF("doc_id", "text")))
    TxSql.sql(spark, s"ALTER TABLE txlog.`$root` DROP CONSTRAINT pos_id")
    assert(TxLog.appendOnce(spark, root, "after-drop",
      Seq((-2L, "now fine")).toDF("doc_id", "text")))
  }

  test("RESTORE is an entry point: resurrected rows are gated by the " +
      "carried constraints (no uncertified rows through a rollback)") {
    val root = freshRoot("chk-restore-gate")
    import spark.implicits._
    TxLog.init(spark, root, Seq((-1L, "bad"), (5L, "ok")).toDF("id", "s")) // v1
    TxLog.delete(spark, root, col("id") < 0) // v2: the violator is gone
    // validates the CURRENT table (only id=5) — passes
    TxLog.addConstraint(spark, root, "pos_id", "id >= 0") // v3
    // rolling back to v1 would resurrect id=-1 UNDER the live constraint
    // (restore carries the current note ledger): refuse loudly — no
    // later path re-validates (maintenance rewrites deliberately never
    // do), so the rollback itself is where certification must happen
    val ex = intercept[IllegalArgumentException] {
      TxLog.restore(spark, root, 1L)
    }
    assert(ex.getMessage.contains("pos_id"))
    // a restore whose content satisfies the constraints still works
    TxLog.appendOnce(spark, root, "b", Seq((7L, "new")).toDF("id", "s")) // v4
    TxLog.restore(spark, root, 2L) // v5: back to {5} — valid
    assert(TxLog.read(spark, root).select("id").as[Long].collect()
      .sorted.toSeq === Seq(5L))
  }
}
