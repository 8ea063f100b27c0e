package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Schema evolution on read (S-family extension): a long-lived dataset's
  * files do not all share one schema — columns get added over time, and a
  * 100 TB table rewritten to backfill them would cost more than the
  * feature. The production contract is evolve-on-read: old files surface
  * the new column as NULL, new files carry it, and one scan serves both
  * vintages (`mergeSchema` unions the parquet footers; the data pages are
  * untouched).
  *
  * The s6 fixture stages the documents table as two file generations in
  * ONE directory — docs < 250 written as (doc_id, text), docs ≥ 250 as
  * (doc_id, text, lang) — and the query reads them through a merged-schema
  * scan. The oracle reproduces the generation split with a CASE over the
  * original table, so the hash match certifies NULL-for-old-files
  * semantics, value survival for new files, and that neither generation's
  * rows were lost or altered.
  */
object SchemaEvolution {

  private val Cut = 250L

  private[operators] def ensureFixture(s: org.apache.spark.sql.SparkSession, dir: String): String = synchronized {
    // Fixture freshness is keyed on a content fingerprint of the source
    // table (row count ⊗ the same id/byte checksum s6 certifies): the
    // testdata directory is regenerated between sessions, and a bare
    // exists() fast-path would keep serving a stale staging while the
    // oracle reads the fresh table. The fingerprint scan is one narrow
    // two-column aggregate — far cheaper than an unconditional restage.
    val fp = Tables.documents(s, dir)
      .agg(count(lit(1)).cast("long").as("n"),
        // coalesce: sum over an empty table is NULL, and an empty corpus
        // must fingerprint (to 0), not NPE
        coalesce(sum((col("doc_id") + 1) * length(col("text").cast("binary"))), lit(0L))
          .cast("long").as("ck"))
      .collect()(0)
    val tag = java.lang.Long.toHexString(fp.getLong(0) * 1000003L + fp.getLong(1))
    val prefix = s"evolve-fixture-${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val out = s"${graft.Paths.work}/$prefix-$tag"
    // stale-tag fixtures from earlier testdata generations are full
    // staged document tables — drop them so regenerations don't accrete
    // unbounded disk under target/
    Option(new java.io.File(graft.Paths.work).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.getName != s"$prefix-$tag" &&
        !f.getName.startsWith(s"$prefix-$tag."))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    // both generations build in a temp dir, then ONE atomic rename — a
    // crash between the two writes must never leave a half fixture that
    // the exists() fast-path accepts forever
    if (!new java.io.File(out).exists()) {
      val tmp = new java.io.File(out + ".tmp")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      val docs = Tables.documents(s, dir)
      // generation 1: the original two-column schema
      docs.filter(col("doc_id") < Cut).select("doc_id", "text")
        .coalesce(2).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      // generation 2: the evolved schema, appended later
      docs.filter(col("doc_id") >= Cut).select("doc_id", "text", "lang")
        .coalesce(2).write.mode("append").parquet(tmp.getAbsolutePath)
      java.nio.file.Files.move(tmp.toPath, new java.io.File(out).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    out
  }

  val defs: Seq[QueryDef] = Seq(
    // S6: merged-schema scan over mixed-vintage files. Old-generation rows
    // must surface lang as NULL (never a default, never dropped); the
    // id⊗bytes checksum pins both generations' payloads byte-exactly.
    QueryDef("s6_schema_evolution",
      s"""SELECT coalesce(CASE WHEN doc_id >= $Cut THEN lang END, 'unknown') AS lang_read,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck
        |FROM documents
        |GROUP BY 1 ORDER BY lang_read""".stripMargin) { (s, dir) =>
      val fixture = ensureFixture(s, dir)
      s.read.option("mergeSchema", "true").parquet(fixture)
        .select(coalesce(col("lang"), lit("unknown")).as("lang_read"),
          col("doc_id"), col("text"))
        .groupBy("lang_read")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum((col("doc_id") + 1) * length(col("text").cast("binary"))).cast("long").as("ck"))
        .orderBy("lang_read")
    },

    // S27: TYPE WIDENING on append — the transactional-log form of
    // evolve-on-read for WIDTH, not just presence: the table starts with
    // an int id and a float score, a later batch brings bigint ids past
    // the int ceiling and double scores; the commit widens the SCHEMA
    // only (old parquet vintages stay int32/float on disk, the scan
    // upcasts them per file — Spark 4's parquet-reader widening). The
    // checksum certifies both vintages' payloads under the one wide
    // schema, and the filtered leg (`id` past the int ceiling) crosses
    // the mixed int32/int64 footer-stats domain the pruner compares in.
    // Score values are exact in every width (small ints + .25), so the
    // float→double certification is equality, not tolerance.
    QueryDef("s27_type_widening",
      """WITH g1 AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |                   CAST(CAST(doc_id % 97 AS FLOAT) AS DOUBLE) AS score,
        |                   text
        |            FROM documents WHERE doc_id < 250),
        |     g2 AS (SELECT doc_id + 3000000000 AS id,
        |                   CAST(doc_id % 97 AS DOUBLE) + 0.25 AS score,
        |                   text
        |            FROM documents WHERE doc_id >= 250),
        |     u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((id + 1) * octet_length(encode(text))) AS BIGINT) AS ck,
        |       CAST(sum(CAST(score * 4 AS BIGINT)) AS BIGINT) AS score_ck,
        |       CAST(sum(CASE WHEN id >= 3000000000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_wide
        |FROM u""".stripMargin) { (s, dir) =>
      val root = TxLog.freshRoot(dir, "txlog-widen")
      val docs = Tables.documents(s, dir)
      TxLog.init(s, root, docs.filter(col("doc_id") < 250)
        .select(col("doc_id").cast("int").as("id"),
          (col("doc_id") % 97).cast("float").as("score"), col("text"))) // v1
      // widening is OPT-IN per table (the Delta enableTypeWidening
      // shape): without the property the wide batch below refuses
      TxLog.setProperties(root, Map("type_widening" -> "true")) // v2
      TxLog.commitAppend(s, root, docs.filter(col("doc_id") >= 250)
        .select((col("doc_id") + 3000000000L).as("id"),
          ((col("doc_id") % 97).cast("double") + 0.25).as("score"),
          col("text")), expected = 2L) // v3: widens id→bigint, score→double
      val t = TxLog.read(s, root)
      require(t.schema("id").dataType ==
        org.apache.spark.sql.types.LongType &&
        t.schema("score").dataType ==
          org.apache.spark.sql.types.DoubleType,
        "append did not widen the committed schema")
      t.agg(count(lit(1)).cast("long").as("n_docs"),
        sum((col("id") + 1) * length(col("text").cast("binary")))
          .cast("long").as("ck"),
        sum((col("score") * 4).cast("long")).cast("long").as("score_ck"),
        sum(when(col("id") >= 3000000000L, 1L).otherwise(0L))
          .cast("long").as("n_wide"))
    },

    // S28: TYPE WIDENING through the KEYED-UPSERT path — the common
    // real-world widening shape (an id column outgrowing int arrives in
    // an hourly upsert, not a plain append). The table starts int-keyed
    // and partitioned by lang; a later upsert batch UPDATES some rows
    // and INSERTS bigint ids past the int ceiling under the same
    // `type_widening` opt-in s27 exercises on append. Untouched
    // partitions' files stay int32 on disk (only touched partitions
    // restage — the upsert's partition-scoped rewrite), so the checksum
    // certifies evolve-on-read across MIXED vintages under the widened
    // pin, exactly the 100 TB shape (one partition's rewrite, not a
    // table rewrite, for a schema width change).
    QueryDef("s28_upsert_widening",
      """WITH upd AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |                    text || ' UPSERTED' AS text, lang
        |             FROM documents
        |             WHERE doc_id < 300 AND doc_id % 5 = 0 AND lang IN ('en', 'de')),
        |     ins AS (SELECT doc_id + 3000000000 AS id, text, lang
        |             FROM documents WHERE doc_id >= 300 AND lang IN ('en', 'de')),
        |     survivors AS (SELECT CAST(doc_id AS BIGINT) AS id, text, lang
        |                   FROM documents
        |                   WHERE doc_id < 300
        |                     AND NOT (doc_id % 5 = 0 AND lang IN ('en', 'de'))),
        |     u AS (SELECT * FROM survivors UNION ALL
        |           SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((id + 1) * octet_length(encode(text))) AS BIGINT) AS ck,
        |       CAST(sum(CASE WHEN id >= 3000000000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_wide
        |FROM u""".stripMargin) { (s, dir) =>
      val root = TxLog.freshRoot(dir, "txlog-widen-upsert")
      val docs = Tables.documents(s, dir)
      TxLog.initPartitioned(s, root, docs.filter(col("doc_id") < 300)
        .select(col("doc_id").cast("int").as("id"), col("text"), col("lang")),
        "lang") // v1: int ids
      TxLog.setProperties(root, Map("type_widening" -> "true")) // v2
      // the batch touches only the en/de partitions: es/fr/zh files stay
      // int32 on disk and upcast at scan under the widened pin
      val touchedLang = col("lang").isin("en", "de")
      val batch = docs
        .filter(col("doc_id") < 300 && col("doc_id") % 5 === 0 && touchedLang)
        .select(col("doc_id").cast("bigint").as("id"),
          concat(col("text"), lit(" UPSERTED")).as("text"), col("lang"))
        .unionByName(docs.filter(col("doc_id") >= 300 && touchedLang)
          .select((col("doc_id") + 3000000000L).as("id"), col("text"),
            col("lang")))
      TxLog.upsertPartitioned(s, root, batch, key = "id", partCol = "lang") // v3
      val t = TxLog.read(s, root)
      require(t.schema("id").dataType == org.apache.spark.sql.types.LongType,
        "upsert did not widen the committed schema")
      t.agg(count(lit(1)).cast("long").as("n_docs"),
        sum((col("id") + 1) * length(col("text").cast("binary")))
          .cast("long").as("ck"),
        sum(when(col("id") >= 3000000000L, 1L).otherwise(0L))
          .cast("long").as("n_wide"))
    }
  )
}
