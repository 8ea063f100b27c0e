package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Count-Min sketch heavy hitters (t9): the estimates must carry the CMS
  * guarantee — never an undercount, overcount bounded by ε·N — against the
  * exact token histogram, and the redaction pass (t8) must mask exactly
  * the blocklist occurrences. */
class TextSketchSpec extends SparkSpec {

  private lazy val tok = Tables.documents(spark, sf)
    .select(explode(split(col("text"), " ")).as("token")).cache()

  test("CMS estimates: exact <= est <= exact + eps*N for every probe") {
    val eps = 0.001
    val sketch = tok.stat.countMinSketch("token", eps, 0.99, 42)
    val n = tok.count()
    val exact = tok.groupBy("token").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    TextAnalysis.CmsProbes.foreach { t =>
      val est = sketch.estimateCount(t)
      val ex = exact.getOrElse(t, 0L)
      assert(est >= ex, s"CMS undercounted '$t': $est < $ex")
      // 4x slack as in t9b: the 1x eps*N bound is only a 0.99-probability
      // guarantee per probe — fine on today's frozen seed/data, flaky
      // across testdata regenerations
      assert(est <= ex + 4 * (eps * n).toLong + 1,
        s"CMS overcount beyond 4*eps*N for '$t': $est vs $ex (N=$n)")
    }
    // the absent probe exercises the pure-collision path
    assert(exact.get("zzz_absent").isEmpty)
  }

  test("redaction masks exactly the counted occurrences and nothing else") {
    val red = TextAnalysis.defs.find(_.name == "t8_redact").get.run(spark, sf)
    val bad = red.filter(
      // every counted hit became a [MASKED] marker...
      size(split(col("red"), "\\[MASKED\\]")) - 1 =!= col("n_masked") ||
        // ...and no unmasked blocklist occurrence survives
        col("red").rlike("\\bcustomer\\b"))
    assert(bad.count() === 0)
    // this corpus genuinely exercises the masking path
    assert(red.agg(sum("n_masked")).collect()(0).getLong(0) > 0)
    assert(red.agg(sum("n_emails")).collect()(0).getLong(0) === 0)
  }

  test("bm25 ranks higher term frequency above lower at equal length (planted pair)") {
    import spark.implicits._
    // identical length and df contribution; doc 1 has tf(table)=3 vs
    // doc 2's tf=1 -> strictly higher score. doc 3 has no query terms and
    // must be absent.
    val dir = freshRoot("bm25-fixture")
    Seq(
      (1L, "table table table x1 x2 x3 x4 x5 x6 x7"),
      (2L, "table y1 y2 y3 y4 y5 y6 y7 y8 y9"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.defs.find(_.name == "t10_bm25").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L), s"got ${rows.toSeq}")
    assert(rows(0)._2 > rows(1)._2)
  }

  test("t11 edit distance: punctuation variants at 0, word swap at its true cost, hot blocks dropped") {
    import spark.implicits._
    // trio sharing the block prefix: doc 2 differs from doc 1 by dog→cat
    // (normalized distance 3), doc 4 is doc 1 re-punctuated (normalized
    // distance 0). Docs 100..169 share one 12-char prefix — the block is
    // hot (70 > EditBlockCap) and contributes NO pairs (C(70,2) avoided).
    val dir = freshRoot("t11-fixture")
    (Seq(
      (1L, "the quick brown fox jumps over dog"),
      (2L, "the quick brown fox jumps over cat"),
      (4L, "The quick, brown fox jumps over dog!"),
      (9L, "zebra yak xylophone walrus vulture")) ++
      (100L until 170L).map(i => (i, s"common prefix words here filler$i")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.defs.find(_.name == "t11_edit_distance").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((1L, 2L, 3), (1L, 4L, 0), (2L, 4L, 3)))
  }

  test("t14: PII counts follow the planting grid exactly (base corpus is PII-free)") {
    // the differential gate certifies engine agreement; this pins the
    // GROUND TRUTH — each doc matches exactly its planted PII and nothing
    // else, so a regex that over- or under-matches on the organic text
    // fails here even if both engines agree on it
    val rows = TextAnalysis.defs.find(_.name == "t14_pii_redaction").get
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === (if (id % 7 == 0) 1L else 0L), s"email count doc $id")
      assert(r.getLong(2) === (if (id % 11 == 0) 1L else 0L), s"ip count doc $id")
      assert(r.getLong(3) === (if (id % 13 == 0) 1L else 0L), s"phone count doc $id")
      assert(r.getString(4).matches("[0-9a-f]{32}"))
    }
  }
}
