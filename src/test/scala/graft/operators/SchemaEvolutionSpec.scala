package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Evolve-on-read semantics at row granularity (s6's fixture). */
class SchemaEvolutionSpec extends SparkSpec {

  test("merged-schema scan: old generation NULL, new generation carries values") {
    val fixture = SchemaEvolution.ensureFixture(spark, sf)
    val df = spark.read.option("mergeSchema", "true").parquet(fixture)
    assert(df.columns.toSet === Set("doc_id", "text", "lang"))
    // generation 1 (doc_id < 250): lang must be NULL — not a default value
    assert(df.filter(col("doc_id") < 250 && col("lang").isNotNull).count() === 0)
    // generation 2: lang survives byte-for-byte from the source table
    val want = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 250).select("doc_id", "lang")
    val got = df.filter(col("doc_id") >= 250).select("doc_id", "lang")
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // no generation lost any rows
    assert(df.count() === Tables.documents(spark, sf).count())
  }

  test("type widening on append: OPT-IN per table — refused by default, " +
      "a wider batch widens the committed schema under the property " +
      "(old vintages upcast at scan), a narrower batch upcasts at " +
      "stage time, unsafe retypes still refuse") {
    import org.apache.spark.sql.types.{IntegerType, LongType, DoubleType, FloatType}
    val root = freshRoot("widen")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score")) // v1
    assert(TxLog.read(spark, root).schema("id").dataType === IntegerType)
    assert(TxLog.read(spark, root).schema("score").dataType === FloatType)
    // DEFAULT: a wider batch refuses — a producer bug that casts a
    // column wider must not silently retype the table and force-restart
    // every pinned streaming consumer (the Delta enableTypeWidening
    // opt-in shape); the refusal names the property
    val ex = intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, root,
        Seq((3000000000L, 3.5)).toDF("id", "score"), expected = 1L)
    }
    assert(ex.getMessage.contains("type_widening"))
    assert(TxLog.currentVersion(root) === 1L, "refused batch must not commit")
    // NARROW upcast needs no opt-in (store-assignment: int rows may
    // always land in the committed width — the schema never moves)
    TxLog.setProperties(root, Map("type_widening" -> "true")) // v2
    // WIDER batch under the property: the committed schema widens
    // (metadata-only — v1's int32/float files stay on disk and upcast
    // per file at scan)
    TxLog.commitAppend(spark, root,
      Seq((3000000000L, 3.5)).toDF("id", "score"), expected = 2L) // v3
    val t = TxLog.read(spark, root)
    assert(t.schema("id").dataType === LongType)
    assert(t.schema("score").dataType === DoubleType)
    assert(t.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3000000000L, 3.5)))
    // NARROWER batch into the now-wide column: upcasts at stage time —
    // staged files never regress below the committed width
    TxLog.commitAppend(spark, root,
      Seq((7, 7.25f)).toDF("id", "score"), expected = 3L) // v4
    val t2 = TxLog.read(spark, root)
    assert(t2.schema("id").dataType === LongType)
    assert(t2.filter(col("id") === 7L).head.getDouble(1) === 7.25)
    assert(t2.count() === 4L)
    // time travel: v1 keeps its own narrow committed schema
    assert(TxLog.read(spark, root, 1L).schema("id").dataType === IntegerType)
    // an unsafe retype (string into a numeric column) refuses unchanged
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, root,
        Seq(("x", 1.0)).toDF("id", "score"), expected = 4L)
    }
    // the change feed reads exactly across the widening boundary (the
    // union coerces pre-widening versions up)
    val ch = TxLog.readChanges(spark, root, 1L, 4L)
    assert(ch.schema("id").dataType === LongType)
    assert(ch.filter(col("_change_type") === "insert").count() === 2L)
  }

  test("type widening through the keyed upsert: wider batch widens under " +
      "the property, untouched partitions' narrow files upcast at scan, " +
      "default still refuses") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = freshRoot("widen-upsert")
    import spark.implicits._
    TxLog.initPartitioned(spark, root,
      Seq((1, "a", "en"), (2, "b", "de"), (3, "c", "fr"))
        .toDF("id", "v", "lang"), "lang") // v1: int ids
    // default: refused, version untouched
    val ex = intercept[IllegalArgumentException] {
      TxLog.upsertPartitioned(spark, root,
        Seq((3000000000L, "wide", "en")).toDF("id", "v", "lang"),
        key = "id", partCol = "lang")
    }
    assert(ex.getMessage.contains("type_widening"))
    assert(TxLog.currentVersion(root) === 1L)
    TxLog.setProperties(root, Map("type_widening" -> "true")) // v2
    // upsert touches ONLY lang=en: updates id=1, inserts a wide id
    TxLog.upsertPartitioned(spark, root,
      Seq((1L, "a2", "en"), (3000000000L, "wide", "en"))
        .toDF("id", "v", "lang"), key = "id", partCol = "lang") // v3
    val t = TxLog.read(spark, root)
    assert(t.schema("id").dataType === LongType)
    assert(t.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "a2", "en"), (2L, "b", "de"), (3L, "c", "fr"),
        (3000000000L, "wide", "en")))
    // the untouched de/fr partitions carried their v1 files by
    // reference — still int32 on disk, upcast at scan under the pin
    val carried = TxLog.snapshot(root).get.entries
      .map(_.path).toSet.intersect(
        TxLog.snapshot(root, 1L).get.entries.map(_.path).toSet)
    assert(carried.nonEmpty, "untouched partitions must carry by reference")
    // time travel: v1 keeps the narrow schema
    assert(TxLog.read(spark, root, 1L).schema("id").dataType === IntegerType)
    // a narrow upsert into the now-wide table upcasts without the drama
    TxLog.upsertPartitioned(spark, root,
      Seq((5, "n", "de")).toDF("id", "v", "lang"), key = "id",
      partCol = "lang") // v4
    assert(TxLog.read(spark, root).schema("id").dataType === LongType)
    assert(TxLog.read(spark, root).count() === 5L)
  }

  test("type widening composes with column mapping: a RENAMED column " +
      "widens (the physical field retypes under its mapped name)") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = freshRoot("widen-map")
    import spark.implicits._
    TxLog.init(spark, root, Seq((1, "a")).toDF("id", "s")) // v1: int id
    TxLog.setProperties(root, Map("type_widening" -> "true")) // v2: opt-in
    TxLog.renameColumn(spark, root, "id", "key") // v3: mapping in play
    assert(TxLog.read(spark, root).schema("key").dataType === IntegerType)
    // the batch speaks the LOGICAL name at the wide type: the committed
    // physical field (still named `id` in the files) must retype
    TxLog.commitAppend(spark, root,
      Seq((3000000000L, "b")).toDF("key", "s"), expected = 3L) // v4
    val t = TxLog.read(spark, root)
    assert(t.columns.toSeq === Seq("key", "s"))
    assert(t.schema("key").dataType === LongType)
    assert(t.orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (3000000000L, "b")))
    // and a narrow batch under the mapped wide column upcasts at stage
    TxLog.commitAppend(spark, root,
      Seq((7, "c")).toDF("key", "s"), expected = 4L)
    assert(TxLog.read(spark, root).count() === 3L)
    assert(TxLog.read(spark, root).schema("key").dataType === LongType)
  }
}
