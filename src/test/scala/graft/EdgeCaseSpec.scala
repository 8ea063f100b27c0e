package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Empty-input and degenerate-input behavior — the cases the reference
  * never handles (no error handling anywhere in stockify.cu; SURVEY §5.2
  * item 2). Operators must return empty/neutral results, not throw. */
class EdgeCaseSpec extends SparkSpec {

  private lazy val li = Tables.lineitem(spark, sf).cache()
  private lazy val empty = li.filter(lit(false)).cache()

  test("filters, windows, and aggregates over an empty table") {
    assert(Filters.filterRows(empty, Filters.Pred("l_quantity", Filters.Ge, 0)).count() === 0)
    val spec = Windows.rolling(Seq(col("l_suppkey")),
      Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")), 0, 9)
    assert(empty.select(avg("l_extendedprice").over(spec)).count() === 0)
    val r = empty.agg(sum("l_quantity"), count(lit(1)), min("l_quantity")).collect()(0)
    assert(r.isNullAt(0) && r.getLong(1) === 0L && r.isNullAt(2))
  }

  test("dedup pipeline over empty and single-doc corpora") {
    val docs = Tables.documents(spark, sf)
    val none = docs.filter(lit(false))
    assert(Dedup.shingles(none).count() === 0)
    assert(Dedup.lshCandidates(Dedup.minhashSignature(Dedup.shingles(none))).count() === 0)
    // one doc → shingles but zero candidate pairs
    val one = docs.limit(1)
    val sh1 = Dedup.shingles(one)
    assert(sh1.count() > 0)
    assert(Dedup.lshCandidates(Dedup.minhashSignature(sh1)).count() === 0)
  }

  test("document shorter than the shingle width drops out instead of crashing") {
    import spark.implicits._
    val tiny = Seq((1L, "only two"), (2L, "one two three four")).toDF("doc_id", "text")
    val sh = Dedup.shingles(tiny)
    assert(sh.filter(col("doc_id") === 1).count() === 0)
    assert(sh.filter(col("doc_id") === 2).count() === 2) // 4 words → 2 trigrams
  }

  test("round-4 guards degrade gracefully on empty/degenerate inputs") {
    val docs = Tables.documents(spark, sf)
    val none = docs.filter(lit(false))
    // df cap over empty postings: empty in, empty out (no hot set to drop)
    assert(Dedup.dfCapped(Dedup.shingles(none)).count() === 0)
    // SimHash hamming banding: empty and single-doc corpora yield no pairs
    assert(Dedup.simhashHammingPairs(none, maxHamming = 3).count() === 0)
    assert(Dedup.simhashHammingPairs(docs.limit(1), maxHamming = 3).count() === 0)
    // connected components with no edges: every node is its own canonical
    // cluster, converging in one detection round
    val nodes = docs.limit(5).select("doc_id")
    val noEdges = none.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"))
    val labels = Dedup.connectedComponents(nodes, noEdges).collect()
    assert(labels.length === 5 && labels.forall(r => r.getLong(0) === r.getLong(1)))
    // SRP probe on a single-vector corpus: the query matches only itself,
    // so the candidate set (and the result) is empty — no crash
    val e1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
    assert(SrpLsh.srpTopK(e1, queryVecId = 0L, k = 5).count() === 0)
  }

  test("d9 rebuild of an all-boilerplate document is the empty-text fingerprint, not NULL") {
    import spark.implicits._
    // 4 copies of one single-chunk doc: every chunk is hot (freq 4 > cap 2)
    // → kept_chunks 0 and clean_fp = md5("") on BOTH engines (the oracle
    // coalesces DuckDB's NULL-on-empty list aggregate)
    val text = (1 to 10).map(i => s"b$i").mkString(" ")
    val dir = freshRoot("graft-d9-edge")
    (0 until 4).map(i => (i.toLong, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.defs.find(_.name == "d9_line_dedup").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(rows.length === 4)
    rows.foreach { case (_, total, kept, fp) =>
      assert(total === 1L && kept === 0L && fp === emptyMd5)
    }
  }

  test("cur6 packing: a document longer than the whole budget still lands in ONE bin") {
    import spark.implicits._
    // doc-atomic packing: a 1300-token doc overhangs its bin; the next doc
    // starts in the bin where its own first token falls
    val dir = freshRoot("graft-cur6-edge")
    Seq(
      (0L, (1 to 1300).map(i => s"t$i").mkString(" ")),
      (1L, (1 to 100).map(i => s"u$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Curation.defs.find(_.name == "cur6_sequence_packing").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 0 starts at offset 0 → bin 0 (alone, 1300 tokens);
    // doc 1 starts at offset 1300 → bin 2 (1300/512 = 2)
    assert(rows.toSeq === Seq((0L, 1L, 1300L), (2L, 1L, 100L)))
  }

  test("globalOrdinal and blockRolling degrade gracefully on empty and tiny inputs") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("n_chars"))
    val none = docs.filter(lit(false))
    assert(Windows.globalOrdinal(none, Seq(col("doc_id"))).count() === 0)
    // single row: one block, no carry, frame shrinks to the row itself
    val one = Windows.globalOrdinal(docs.limit(1), Seq(col("doc_id")))
    val got = Windows.blockRolling(one, "__ord", frameEnd = 9, blockSize = 64) {
      (u, w) => u.withColumn("n", count(lit(1)).over(w))
    }.select("n").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L))
    // blockSize must exceed the frame, loudly
    intercept[IllegalArgumentException] {
      Windows.blockRolling(one, "__ord", frameEnd = 9, blockSize = 9)((u, _) => u)
    }
    // the other prefix-kernel users: running max and sequence packing
    val ids = Seq(col("doc_id"))
    assert(Windows.globalRunningMax(none, ids, col("n_chars")).count() === 0)
    val rm = Windows.globalRunningMax(docs.limit(1), ids, col("n_chars"))
      .select("__ord", "__runmax", "n_chars").collect()
    assert(rm.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, rm.head.getLong(2))))
    val toks = docs.select(col("doc_id"), col("n_chars").as("n_tok"))
    assert(Curation.packSequences(toks.filter(lit(false))).count() === 0)
    val bins = Curation.packSequences(toks.limit(1)).collect()
    assert(bins.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 1L)))
  }

  test("round-5 operators degrade gracefully on empty inputs") {
    import spark.implicits._
    val dir = freshRoot("graft-empty5")
    // empty documents / events / lineitem / orders / supplier fixtures
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq.empty[(Long, Long, Long, String, java.sql.Timestamp, Double, Double)]
      .toDF("l_orderkey", "l_suppkey", "l_partkey", "l_returnflag",
        "l_shipdate", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq.empty[(Long, String, Long, java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_orderstatus", "o_custkey", "o_orderdate",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq.empty[(Long, String, Long)].toDF("s_suppkey", "s_name", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq.empty[(Long, Long)].toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq.empty[(Long, String)].toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    def run(n: String) = SparkEntry.queries(n)(spark, dir)
    assert(run("d13_substring_dedup").count() === 0)
    assert(run("d14_tfidf_cosine").count() === 0)
    assert(run("d15_incremental_neardup").count() === 0) // builds+probes an empty index
    assert(run("t11_edit_distance").count() === 0)
    assert(run("t12_keywords").count() === 0)
    assert(run("cur9_epoch_shuffle").count() === 0)
    assert(run("pipe2_corpus_profile").count() === 0)
    assert(run("e8_funnel").count() === 0)
    assert(run("j15_q21_shape").count() === 0)
    assert(run("j16_q7_shape").count() === 0)
    assert(run("j17_q4_shape").count() === 0)
    assert(run("j18_q12_shape").count() === 0)
    assert(run("g1_pagerank").count() === 0) // empty edge set → empty ranking
    // g2 emits its one summary row with all-zero counts
    val g2 = run("g2_triangle_count").collect()
    assert(g2.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 0L, 0L)))

    // round-6 operators on the same degenerate corpus:
    // g1b: an empty graph must emit NO rows — the oracle's grouped final
    // aggregate over zero nodes yields none, and a converged-over-nothing
    // verdict row would diverge from it (the loop itself must neither
    // NPE on the null max-delta nor spin to the cap)
    assert(run("g1b_pagerank_converged").count() === 0)
    // s6: an empty source table fingerprints (not NPEs) and stages an
    // empty two-generation fixture whose merged read is empty
    assert(run("s6_schema_evolution").count() === 0)
    // j27: only the grand-total row survives an empty fact table (rank 1,
    // ppm 1e6, NULL revenue — there is nothing to total)
    Seq.empty[(Long, String, String)].toDF("p_partkey", "p_type", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val j27 = run("j27_q67_category_share").collect()
    assert(j27.length === 1)
    assert(j27(0).getInt(0) === 2 && j27(0).isNullAt(3))
    // mm8/mm9: no documents → no media fixtures → empty, not a crash
    assert(run("mm8_jpeg_decode").count() === 0)
    assert(run("mm9_video_frame_decode").count() === 0)
  }

  test("joins with an empty side behave per join type") {
    val orders = Tables.orders(spark, sf)
    val noLines = li.filter(lit(false))
    assert(orders.join(noLines, col("o_orderkey") === col("l_orderkey")).count() === 0)
    assert(orders.join(noLines, col("o_orderkey") === col("l_orderkey"), "left_semi").count() === 0)
    assert(orders.join(noLines, col("o_orderkey") === col("l_orderkey"), "left_anti").count()
      === orders.count())
    assert(orders.join(noLines, col("o_orderkey") === col("l_orderkey"), "left").count()
      === orders.count())
  }

  test("zero-vector cosine: native expression is total (NaN); HOF follows ANSI divide") {
    import spark.implicits._
    graft.functions.CosineNative.register(spark)
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    // the SQL-expression form inherits ANSI division semantics: 0/0 errors
    // under spark.sql.ansi.enabled (Spark 4 default)
    val hofFails = intercept[Exception] {
      df.select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    }
    assert(hofFails.getMessage.contains("DIVIDE_BY_ZERO"))
    // the native expression computes in JVM doubles: total function, NaN out
    val viaNative = df.select(expr("cosine_native(a, b)").as("c")).collect()(0).getDouble(0)
    assert(viaNative.isNaN)
    assert(df.select(expr("cosine_native(a, b)").as("c"))
      .filter(!isnan(col("c"))).count() === 0)
  }

  test("t13 PMI: single-token docs fabricate no bigrams; exact integer score") {
    import spark.implicits._
    val dir = freshRoot("graft-t13")
    // five "alpha beta" docs (the only pair at the count floor) plus a
    // single-token doc — Spark's sequence(0, -1) DESCENDS, so an unguarded
    // bigram transform would fabricate (solo, null) rows here
    val texts = Seq.fill(5)("alpha beta") :+ "solo"
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.defs.find(_.name == "t13_pmi").get.run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // c12=5, c_alpha=c_beta=5 → score = 5·PmiQ/25 = PmiQ/5
    assert(got.toSeq === Seq(("alpha", "beta", 5L, TextAnalysis.PmiQ / 5)))
  }
}
