package graft.operators

import graft.{Paths, SparkSpec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Curation tier: hand-computed repetition fractions, deterministic
  * engine-portable sampling, binding per-source quotas, and planted
  * benchmark contamination — plus the broadcast-shape pin that keeps
  * cur5 scale-safe (the corpus n-grams must never shuffle). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = Curation.defs.find(_.name == name).get

  /** Write a planted corpus as `<tmp>/documents.parquet` so the QueryDef
    * runs against it exactly as against the driver's testdata. */
  private def corpusDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = freshRoot("graft-curation")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("cur1 repetition fractions match hand-computed values") {
    // "a b a b a b c": bigrams (a b)x3 (b a)x2 (b c)x1, total 6
    //   -> top2 = 3/6, dup2 = (3+2)/6
    // "q w e r t": 4 distinct bigrams -> top2 = 1/4, dup2 = 0
    // "solo": < 2 tokens -> dropped
    val dir = corpusDir(Seq(
      (1L, "a b a b a b c", "en", "src0"),
      (2L, "q w e r t", "en", "src0"),
      (3L, "solo", "en", "src0")))
    val rows = q("cur1_repetition_profile").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((1L, 0.5, 0.833333), (2L, 0.25, 0.0)))
  }

  test("cur2 hash sample is deterministic, subset-correct, and ~10%") {
    val a = q("cur2_hash_sample").run(spark, sf).collect()
    val b = q("cur2_hash_sample").run(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "same corpus must sample identical rows")
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(a.length > 0 && a.length < total)
    // Lehmer buckets are uniform: 10% +/- a generous small-sample band
    val frac = a.length.toDouble / total
    assert(frac > 0.02 && frac < 0.25, s"sample fraction $frac implausible for 10%")
    // re-derive the predicate independently: the sample IS the bucket set
    val expect = graft.sources.Tables.documents(spark, sf)
      .filter(((col("doc_id") % 2147483647L) * 48271L) % 2147483647L % 100L < 10)
      .count()
    assert(a.length.toLong === expect)
  }

  test("cur8 split: disjoint+total per language, proportions near 80/10/10, growth never moves a doc") {
    val res = q("cur8_train_val_test").run(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // totals per lang across splits == the corpus per-lang counts
    val docs = graft.sources.Tables.documents(spark, sf)
    val perLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, total) =>
      val split = Seq("train", "val", "test").map(sp => res.getOrElse((lang, sp), 0L)).sum
      assert(split === total, s"$lang: split rows $split != corpus $total")
      val train = res.getOrElse((lang, "train"), 0L).toDouble / total
      assert(train > 0.6 && train < 0.95, s"$lang train fraction $train far from 0.8")
    }
    // growth invariance: a doc's split is a pure function of its id —
    // recompute over HALF the corpus and every surviving id keeps its split
    import spark.implicits._
    def assign(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("b", expr("((doc_id % 2147483647) * 48271) % 2147483647 % 100"))
      .withColumn("split", when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .select("doc_id", "split")
    val full = assign(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val half = assign(docs.filter(col("doc_id") % 2 === 0))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half.forall { case (id, sp) => full(id) == sp })
  }

  test("cur3 quota binds: no source exceeds K, ranks are dense, runs repeat") {
    val out = q("cur3_source_quota").run(spark, Paths.sf("sf0.01"))
    val perSrc = out.groupBy("source").agg(count(lit(1)).as("n"), max("rn").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(perSrc.nonEmpty)
    perSrc.foreach { case (src, n, mx) =>
      assert(n <= 10, s"source $src kept $n > K")
      assert(mx === n, s"source $src ranks not dense: max rn $mx over $n rows")
    }
    // the quota must actually bind somewhere at sf0.01 (en sources have >10 docs)
    assert(perSrc.exists(_._2 === 10L), "quota never bound — test corpus too small")
    val again = q("cur3_source_quota").run(spark, Paths.sf("sf0.01")).collect()
    assert(out.collect().toSeq === again.toSeq)
  }

  test("cur4 mixture: kept <= total per lang, rates ordered en > de > rest") {
    val m = q("cur4_lang_mixture").run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    m.foreach { case (lang, (tot, kept)) =>
      assert(kept <= tot, s"$lang kept $kept > total $tot")
    }
    // cross-check one lang against a direct recount
    val (tot, kept) = m("en")
    val direct = graft.sources.Tables.documents(spark, sf)
      .filter(col("lang") === "en")
      .filter(((col("doc_id") % 2147483647L) * 48271L) % 2147483647L % 100L < 80)
      .count()
    assert(kept === direct && tot >= kept)
  }

  test("cur5 flags exactly the planted contaminated doc with the right hit count") {
    // doc 10 is eval (10 % 10 == 0); doc 3 copies 9 consecutive tokens
    // from it -> two distinct shared 8-grams; docs 1-2 are clean.
    val evalText = "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"
    val dir = corpusDir(Seq(
      (10L, evalText, "en", "src0"),
      (3L, "x0 e1 e2 e3 e4 e5 e6 e7 e8 e9 x1 x2", "en", "src0"),
      (1L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10", "en", "src0"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 b8 b9", "en", "src0")))
    val rows = q("cur5_decontaminate").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((3L, 2L)))
  }

  test("cur6 distributed prefix sum == single-partition reference cumsum") {
    // the partitioned-offsets machinery must reproduce the trivially
    // correct one-partition global window exactly
    val got = q("cur6_sequence_packing").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val one = org.apache.spark.sql.expressions.Window
      .orderBy("doc_id").rowsBetween(Long.MinValue, 0)
    val ref = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .coalesce(1)
      .withColumn("cb", sum("n_tok").over(one) - col("n_tok"))
      .withColumn("bin", (col("cb") / lit(Curation.PackBudget)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
      .orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === ref.toSeq)
    // bins are contiguous from 0 and every doc is packed exactly once
    assert(got.map(_._1).toSeq === got.indices.map(_.toLong))
    val totalDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(got.map(_._2).sum === totalDocs)
  }

  test("cur6 packing plan windows the CORPUS under a hash partitioning, never one partition") {
    val plan = q("cur6_sequence_packing").run(spark, sf)
      .queryExecution.executedPlan.toString
    // positive pin: the per-document running sum must execute under
    // hashpartitioning(__pid) — the corpus-sized window stays distributed.
    // (The offsets helper legitimately runs a single-partition window, but
    // over ≤ 2×cores one-row-per-partition counts, not the corpus.)
    assert(plan.contains("hashpartitioning(__pid"),
      s"corpus window must be partitioned by __pid:\n$plan")
  }

  test("cur7 approx quality floor tracks the exact rank cut (>=90% agreement per lang)") {
    val d = graft.sources.Tables.documents(spark, sf)
    val approxKept = Curation.qualityFloorApprox(d)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact kept set: same rank machinery as the registered cur7
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("quality", "doc_id")
    val cnt = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val exactKept = d
      .select(col("doc_id"), col("lang"), TextAnalysis.qualityCol.as("quality"))
      .withColumn("rn", row_number().over(byLang))
      .withColumn("n", count(lit(1)).over(cnt))
      .filter(col("rn") > floor(col("n") / 4))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val inter = (approxKept & exactKept).size.toDouble
    assert(inter / exactKept.size >= 0.9,
      f"approx cut diverges: overlap ${inter / exactKept.size}%.3f")
    // and the approx form must not sort the corpus per language
    val plan = Curation.qualityFloorApprox(d).queryExecution.executedPlan.toString
    assert(plan.contains("approx_percentile") || plan.contains("ApproximatePercentile"),
      s"threshold must come from the sketch:\n$plan")
  }

  test("cur5 keeps the eval gram set on the broadcast side (corpus never shuffles grams)") {
    val df = q("cur5_decontaminate").run(spark, sf)
    df.count() // materialize so AQE settles on the final physical plan
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"decon join must broadcast the eval grams:\n$plan")
  }

  test("cur9 epoch shuffle: exact per-epoch coverage, order changes across epochs, re-run identical") {
    val run = Curation.defs.find(_.name == "cur9_epoch_shuffle").get
    val rows = run.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = graft.sources.Tables.documents(spark, sf).count()
    val idSum = graft.sources.Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("doc_id")).collect()(0).getLong(0)
    (0 to 2).foreach { e =>
      val es = rows.filter(_._1 == e)
      // every document appears exactly once per epoch
      assert(es.map(_._3).sum === total, s"epoch $e coverage")
      assert(es.map(_._4).sum === idSum, s"epoch $e id checksum")
    }
    // the permutation genuinely changes: per-epoch key totals differ
    val keyTotals = (0 to 2).map(e => rows.filter(_._1 == e).map(_._5).sum)
    assert(keyTotals.distinct.size === 3, s"epoch orders must differ: $keyTotals")
    // pure function of (epoch, id) ⇒ bit-identical re-run
    val again = run.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === again.toSeq)
  }

  test("cur10 temperature mixture: smallest language keeps all, distribution flattens") {
    val rows = Curation.defs.find(_.name == "cur10_temperature_mixture").get
      .run(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_total"),
        r.getAs[Long]("rate_ppm"), r.getAs[Long]("n_kept")))
    assert(rows.length > 1)
    val minN = rows.map(_._2).min
    // the smallest language anchors the scale: rate exactly 1e6, kept = all
    rows.filter(_._2 == minN).foreach { case (lang, n, rate, kept) =>
      assert(rate === 1000000L, s"$lang rate")
      assert(kept === n, s"$lang must keep everything")
    }
    // α = 1/2 flattens: the kept-count spread (max/min) must shrink vs raw
    // (strictly, expected kept ∝ √n — allow hash-sampling noise headroom)
    val rawSpread = rows.map(_._2).max.toDouble / minN
    val kept = rows.map(_._4)
    val keptSpread = kept.max.toDouble / math.max(kept.min, 1L)
    assert(keptSpread < rawSpread,
      s"kept spread $keptSpread must flatten below raw spread $rawSpread")
    // every rate follows the closed form off exact integers
    rows.foreach { case (lang, n, rate, _) =>
      val want = math.floor(math.sqrt((BigInt(1000000000000L) * minN / n).toDouble)).toLong
      assert(rate === want, s"$lang rate formula")
    }
  }

  test("cur11 systematic sample: ~k picks, heavy docs proportionally represented") {
    val row = Curation.defs.find(_.name == "cur11_systematic_weighted_sample").get
      .run(spark, sf).collect()(0)
    val picks = row.getAs[Long]("total_picks")
    val nSel = row.getAs[Long]("n_selected")
    // pick points offset + j·step inside [0, W): exactly k or k±1 by the
    // step = W div k rounding — never drifts further
    assert(picks >= 99 && picks <= 101, s"picks=$picks")
    assert(nSel <= picks && nSel > 0)
    // driver-side reference: same spacing over the sorted (doc_id, w) list
    val d = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val tw = d.map(_._2).sum
    val step = math.max(tw / 100, 1L); val off = step / 2
    var cum = 0L; var expPicks = 0L; var expIds = 0L
    d.foreach { case (id, w) =>
      val lo = cum; cum += w
      def pb(x: Long) = if (x <= off) 0L else (x - off + step - 1) / step
      val m = pb(cum) - pb(lo)
      expPicks += m; expIds += id * m
    }
    assert(picks === expPicks)
    assert(row.getAs[Long]("id_ck") === expIds)
  }
}
