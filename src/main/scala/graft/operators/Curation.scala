package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators over `documents` — the data-mixing /
  * filtering / decontamination tier of a training-data pipeline (north
  * star; absent from the reference, which stops at numeric scans). These
  * are the decisions a 100 TB corpus build actually runs AFTER dedup
  * (Dedup.scala) and quality scoring (TextAnalysis.scala): drop
  * repetitive documents, carve reproducible samples and per-source
  * quotas, hit a target language mixture, and scrub benchmark
  * contamination before anything reaches a trainer.
  *
  * Cross-engine determinism: all sampling decisions come from a LEHMER
  * hash (x → x·48271 mod 2³¹−1) written as plain BIGINT arithmetic so
  * DuckDB computes bit-identical buckets — no engine RNG, no seed state,
  * re-runs and backfills select the exact same rows. The doc_id is
  * reduced mod 2³¹−1 BEFORE the multiply so the product stays far from
  * BIGINT overflow for any 64-bit id.
  *
  * Scale shapes:
  *  - repetition profile: explode bigrams behind a doc_id repartition,
  *    two keyed aggregations (map-side combined) — linear, no self-join.
  *  - hash sample / mixture: narrow codegen'd filter, ZERO shuffle — the
  *    shape that makes sampling free at any corpus size.
  *  - source quota: one hash shuffle on the quota key + per-partition
  *    rank; the 100 TB variant swaps the window for plans.TopKPerKey's
  *    partial-heap exec when K ≪ group size.
  *  - decontamination: the eval benchmark is small and FIXED (the whole
  *    point of decon) — its distinct-gram set broadcasts; the corpus side
  *    stays a narrow scan + broadcast semi-join + per-doc count. Never
  *    shuffles the corpus n-grams.
  */
object Curation {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** Lehmer / MINSTD hash bucket in [0, 100): deterministic, engine-
    * portable, overflow-safe (doc_id folded mod 2³¹−1 first). */
  private val M = 2147483647L
  private def hashBucket(id: Column): Column =
    ((id % M) * 48271L) % M % 100L

  private val hashBucketSql =
    "((doc_id % 2147483647) * 48271) % 2147483647 % 100"

  /** Word n-gram helper (1-indexed, mirrors the oracle's generate_series).
    * Shared with Dedup.shingles (= grams(d, 3)) so the tokenize-once and
    * spread disciplines live in exactly one place.
    *
    * The token array is BOUND ONCE as a projected column below the
    * explode: referencing `split(text)` directly inside the transform
    * lambda re-tokenizes the document for every element_at at every gram
    * position (n × positions splits per doc — ~750 re-tokenizations per
    * 100-token doc at n=8; measured 12 s → ~1 s at sf0.1). Projects don't
    * collapse across Generate, so the array materializes per-row. */
  private[operators] def grams(d: DataFrame, n: Int): DataFrame = {
    val w = col("w")
    Par.spread(d, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(w) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))).as("g"))
  }

  /** Token budget per packed training sequence (cur6). (Declared before
    * `defs`: the oracle SQL interpolates it at object-init time.) */
  val PackBudget = 512L

  /** Sequence-packing core (cur6, pipe1): global token prefix sum over
    * (doc_id, n_tok) rows WITHOUT a global sort — range-partition, per-
    * partition windowed cumsum, plus the driver-side exclusive prefix
    * over the ≤ #partitions per-partition totals (bounded collect),
    * shipped back as a literal. The window reads the shared prefix
    * kernel's pinned range shuffle (Par.rangeWithOffsets), the same
    * execution the totals came from. Returns one row per 512-token
    * training bin. */
  def packSequences(toks: DataFrame): DataFrame = {
    val (base, off) = Par.rangeWithOffsets(
      toks.select(col("doc_id"), col("n_tok")), Seq(col("doc_id")), col("n_tok"))
    val w = Window.partitionBy("__pid").orderBy("doc_id")
    base.withColumn("cb", sum("n_tok").over(w) - col("n_tok") + off)
      .withColumn("bin", (col("cb") / lit(PackBudget)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin")
  }

  /** Per-language bottom-quartile cut (cur7, pipe1): rank-based, integer-
    * exact in both engines. Keeps (doc_id, lang, text, quality). */
  def qualityFloorExact(d: DataFrame): DataFrame = {
    val byLang = Window.partitionBy("lang").orderBy("quality", "doc_id")
    val cnt = Window.partitionBy("lang")
    d.select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.qualityCol.as("quality"))
      .withColumn("rn", row_number().over(byLang))
      .withColumn("n", count(lit(1)).over(cnt))
      .filter(col("rn") > floor(col("n") / 4))
      .drop("rn", "n")
  }

  val defs: Seq[QueryDef] = Seq(

    // CUR1: Gopher-style repetition profile — the fraction of a document
    // covered by its most frequent word bigram (top2_frac) and by ALL
    // bigrams that occur more than once (dup2_frac). High values flag the
    // keyword-stuffed / looping documents a quality filter drops. Counts
    // are integers; the two divisions use the identical expression tree in
    // both engines, rounded once at the end.
    QueryDef("cur1_repetition_profile",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, CAST(len(w) - 1 AS BIGINT) AS total, w[i] || ' ' || w[i+1] AS g
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |             FROM ws WHERE len(w) >= 2)),
        |cnt AS (SELECT doc_id, total, g, count(*) AS c FROM bg GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |       CAST(round(CAST(max(c) AS DOUBLE) / total, 6) AS DOUBLE) AS top2_frac,
        |       CAST(round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / total, 6) AS DOUBLE) AS dup2_frac
        |FROM cnt GROUP BY doc_id, total
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val w = col("w")
      val bg = Par.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("w")) // tokenize ONCE (see grams)
        .filter(size(w) >= 2)
        .select(col("doc_id"), (size(w) - 1).cast("long").as("total"),
          explode(transform(sequence(lit(1), size(w) - 1),
            i => concat_ws(" ", element_at(w, i), element_at(w, i + 1)))).as("g"))
      bg.groupBy("doc_id", "total", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "total")
        .agg(max("c").as("mx"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"))
        .select(col("doc_id"),
          round(col("mx").cast("double") / col("total"), 6).cast("double").as("top2_frac"),
          round(col("dup").cast("double") / col("total"), 6).cast("double").as("dup2_frac"))
        .orderBy("doc_id")
    },

    // CUR2: reproducible Bernoulli sample (10%) — the "give me the same
    // 10% every run, on every engine, with zero shuffle" primitive behind
    // held-out splits and debug slices. A narrow filter: at 100 TB this
    // costs one scan, no state, and a backfilled partition samples the
    // exact same rows it would have on day one.
    QueryDef("cur2_hash_sample",
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE $hashBucketSql < 10
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .filter(hashBucket(col("doc_id")) < 10)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // CUR8: reproducible STRATIFIED train/val/test split (80/10/10) —
    // the assignment is a pure function of the id (the same Lehmer
    // buckets as cur2), so it is identical across engines, runs, and
    // corpus growth: adding documents NEVER moves an existing one
    // between splits (the property that keeps eval sets stable as a
    // corpus accretes), and stratification per language is free because
    // the hash is independent of `lang`. Zero shuffle for the labeling;
    // the grouped verification rows are a tiny aggregate. CurationSpec
    // pins disjoint-and-total coverage plus per-stratum proportions.
    QueryDef("cur8_train_val_test",
      s"""SELECT lang, split, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS ck_ids
        |FROM (SELECT lang, doc_id,
        |        CASE WHEN $hashBucketSql < 80 THEN 'train'
        |             WHEN $hashBucketSql < 90 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM documents)
        |GROUP BY lang, split ORDER BY lang, split""".stripMargin) { (s, dir) =>
      val b = hashBucket(col("doc_id"))
      docs(s, dir)
        .withColumn("split",
          when(b < 80, lit("train")).when(b < 90, lit("val")).otherwise(lit("test")))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("ck_ids"))
        .orderBy("lang", "split")
    },

    // CUR9: per-epoch reshuffle — training runs want a DIFFERENT data
    // order every epoch with ZERO stored RNG state: the order key is a
    // pure function of (epoch, doc_id) (the cur2 Lehmer mix with an
    // epoch-salted input), so any worker, engine, or re-run derives the
    // identical permutation, and shard assignment (key mod 64) rebalances
    // every epoch. Emitted as per-(epoch, shard) counts plus exact id and
    // key checksums: equal ck_ids distributions across epochs prove every
    // doc appears exactly once per epoch; differing ck_key proves the
    // ORDER actually changed.
    //
    // Scale shape: labeling is a narrow codegen'd expression (the 3-epoch
    // explode is output-side replication, not a shuffle); the grouped
    // counts are one tiny aggregate. The sort a trainer would do per
    // epoch is BY KEY WITHIN SHARD — range partition on (epoch, shard,
    // key), never a global single-partition sort.
    QueryDef("cur9_epoch_shuffle",
      """WITH e AS (SELECT doc_id, unnest([0, 1, 2]) AS epoch FROM documents),
        |k AS (SELECT epoch, doc_id,
        |        ((doc_id % 2147483647 + epoch * 16807) * 48271) % 2147483647 AS key
        |      FROM e)
        |SELECT epoch, CAST(key % 64 AS BIGINT) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS ck_ids,
        |       CAST(sum(key) AS BIGINT) AS ck_key
        |FROM k GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin) { (s, dir) =>
      val key = (((col("doc_id") % 2147483647L + col("epoch") * 16807L) *
        48271L) % 2147483647L)
      docs(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("epoch"))
        .withColumn("key", key)
        .groupBy(col("epoch"), (col("key") % 64).as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("ck_ids"),
          sum("key").as("ck_key"))
        .orderBy("epoch", "shard")
    },

    // PIPE2: the DATASET CARD in one pass — the per-language profile a
    // pipeline publishes with a released corpus, composing the t2/t3/d2
    // kernels over one shared tokenization: volume (docs, tokens), token-
    // length distribution (exact median), duplication (distinct
    // normalized fingerprints — d2's kernel), and a quality checksum
    // (t3's score quantized to integers so the sum is order-free exact).
    //
    // Scale shape: ONE narrow per-doc pass (tokens/quality/fingerprint
    // computed together), one shuffle on lang; the exact median is a10's
    // per-group percentile (per-group sort at gate scale — the sketch
    // form for 100 TB is a11/cur7's approx_percentile, already
    // registered).
    QueryDef("pipe2_corpus_profile", {
      val q = TextAnalysis.qualitySql.replace("\n", "\n        |")
      s"""SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       quantile_cont(len(string_split(text, ' ')), 0.50) AS med_tokens,
        |       CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS BIGINT) AS n_uniq,
        |       CAST(sum(CAST(round(($q) * 1000000) AS BIGINT)) AS BIGINT) AS ck_quality
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      val nTok = size(split(col("text"), " ")).cast("long")
      docs(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(nTok).as("total_tokens"),
          percentile(nTok, lit(0.50)).as("med_tokens"),
          countDistinct(md5(Dedup.normalized(col("text")).cast("binary")))
            .as("n_uniq"),
          sum(round(TextAnalysis.qualityCol * 1000000).cast("long"))
            .as("ck_quality"))
        .orderBy("lang")
    },

    // CUR3: per-source quota — keep at most K documents per source,
    // chosen by hash order (deterministic, unbiased within the source).
    // This is the per-domain cap a web-scale corpus applies so one crawl
    // host can't dominate training. One shuffle on `source`; rank order is
    // (hash, doc_id) so ties are impossible and both engines agree.
    QueryDef("cur3_source_quota",
      s"""SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY $hashBucketSql, doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 10
        |ORDER BY source, rn""".stripMargin) { (s, dir) =>
      val win = Window.partitionBy("source")
        .orderBy(hashBucket(col("doc_id")).asc, col("doc_id").asc)
      docs(s, dir)
        .withColumn("rn", row_number().over(win).cast("long"))
        .filter(col("rn") <= 10)
        .select("doc_id", "source", "rn")
        .orderBy("source", "rn")
    },

    // CUR4: target language mixture — per-language keep rates (en 80%,
    // de 50%, rest 25%) applied with the same Lehmer buckets, reported as
    // kept-vs-total counts per language. The mixing step of corpus
    // assembly: same zero-shuffle filter shape as cur2 plus one tiny
    // grouped count.
    QueryDef("cur4_lang_mixture",
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN $hashBucketSql <
        |             (CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50 ELSE 25 END)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val rate = when(col("lang") === "en", 80L)
        .when(col("lang") === "de", 50L).otherwise(25L)
      docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(hashBucket(col("doc_id")) < rate, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    },

    // CUR10: TEMPERATURE-scaled mixture resampling (the T5/mC4 α-sampling
    // op): kept counts ∝ n_lang^α with α = 1/2, i.e. per-lang keep rate
    // (n_min/n_lang)^(1−α) = √(n_min/n_lang) — the smallest language
    // keeps everything, bigger ones downsample toward a flattened
    // distribution. cur4's fixed per-lang rates become DATA-DERIVED
    // here. Exactness: the ratio 1e12·n_min/n_lang is an exact integer
    // division through a DECIMAL-widened intermediate (1e12·n_min passes
    // 2^63 once a language holds ≳9M docs — the j27 overflow moral
    // applied at design time); the single float step is one correctly-
    // rounded IEEE sqrt+floor over that exact integer, identical in both
    // engines. Membership is the cur2 multiplicative hash at ppm
    // granularity, so WHICH documents survive is pinned, not just how
    // many (position-keyed mix checksum).
    // Scale: per-lang counts are a dimension-sized aggregate broadcast
    // back; the corpus never shuffles — keep/drop is a narrow map.
    QueryDef("cur10_temperature_mixture",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang, n,
        |        CAST(floor(sqrt(CAST(CAST(1000000000000 AS HUGEINT) * nmin // n AS DOUBLE))) AS BIGINT) AS rate_ppm
        |      FROM c, m),
        |k AS (SELECT d.lang, d.doc_id, r.n, r.rate_ppm,
        |        CASE WHEN ((d.doc_id % 2147483647) * 48271) % 2147483647 % 1000000
        |                  < r.rate_ppm THEN 1 ELSE 0 END AS keep
        |      FROM documents d JOIN r ON d.lang = r.lang)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_total,
        |       CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
        |       CAST(sum(keep) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN keep = 1 THEN (doc_id % 251) + 1 ELSE 0 END) AS BIGINT) AS mix
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val c = docs(s, dir).groupBy("lang").agg(count(lit(1)).as("n"))
      val m = c.agg(min("n").as("nmin"))
      val r = c.crossJoin(broadcast(m))
        .withColumn("rate_ppm", floor(sqrt(
          expr("CAST(1000000000000 AS DECIMAL(38,0)) * nmin div n")
            .cast("double"))).cast("long"))
      val keep = (((col("doc_id") % M) * 48271L) % M % 1000000L) < col("rate_ppm")
      docs(s, dir).join(broadcast(r), "lang")
        .groupBy("lang")
        .agg(max("n").as("n_total"), max("rate_ppm").as("rate_ppm"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(keep, (col("doc_id") % 251) + 1).otherwise(0L)).as("mix"))
        .orderBy("lang")
    },

    // CUR11: SYSTEMATIC weighted sampling — k picks spaced evenly through
    // the cumulative weight mass (weight = document byte length), the
    // deterministic exact-integer alternative to A-ES-style randomized
    // weighted sampling: a document holding weight interval
    // [cum_excl, cum_incl) is selected with multiplicity = #{pick points
    // offset + j·step inside it} (heavy docs can be picked more than
    // once — sampling WITH multiplicity, as weighted mixtures need).
    // The global cumulative weight comes from the SAME distributed
    // prefix machinery as sequence packing (Par.rangeWithOffsets with a
    // weight column: per-partition cumsum + exclusive partition offsets
    // — no single-partition window). All arithmetic is
    // non-negative integer division (the pick-count formula is guarded
    // to x > offset before subtracting, so Spark's truncating `div` and
    // DuckDB's flooring `//` never see a negative operand).
    QueryDef("cur11_systematic_weighted_sample",
      """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS w FROM documents),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d),
        |s AS (SELECT greatest(tw // 100, 1) AS step,
        |             greatest(tw // 100, 1) // 2 AS off FROM t),
        |c AS (SELECT doc_id, w,
        |             sum(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_incl
        |      FROM d),
        |m AS (SELECT doc_id, w, cum_incl, cum_incl - w AS cum_excl,
        |             (CASE WHEN cum_incl <= off THEN 0
        |                   ELSE (cum_incl - off + step - 1) // step END) -
        |             (CASE WHEN cum_incl - w <= off THEN 0
        |                   ELSE (cum_incl - w - off + step - 1) // step END) AS mult
        |      FROM c, s)
        |SELECT CAST(count(*) AS BIGINT) AS n_selected,
        |       CAST(sum(mult) AS BIGINT) AS total_picks,
        |       CAST(sum(doc_id * mult) AS BIGINT) AS id_ck,
        |       CAST(sum(w * mult) AS BIGINT) AS w_ck
        |FROM m WHERE mult > 0""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("w"))
      val tw = d.agg(sum("w")).collect()(0).getLong(0) // ONE scalar to the driver
      val step = math.max(tw / 100, 1L)
      val off = step / 2
      val (p, pOff) = Par.rangeWithOffsets(d, Seq(col("doc_id")), col("w"))
      val win = Window.partitionBy("__pid").orderBy("doc_id")
      p.withColumn("cum_incl", sum("w").over(win) + pOff)
        .withColumn("mult",
          when(col("cum_incl") <= off, 0L)
            .otherwise(expr(s"(cum_incl - $off + $step - 1) div $step")) -
          when(col("cum_incl") - col("w") <= off, 0L)
            .otherwise(expr(s"(cum_incl - w - $off + $step - 1) div $step")))
        .filter(col("mult") > 0)
        .agg(count(lit(1)).as("n_selected"), sum("mult").as("total_picks"),
          sum(col("doc_id") * col("mult")).as("id_ck"),
          sum(col("w") * col("mult")).as("w_ck"))
    },

    // CUR5: benchmark decontamination — flag training documents sharing
    // any 8-gram with the eval set (here: doc_id % 10 == 0 stands in for
    // the benchmark; in production it's a fixed external table). 8 words
    // is the usual decon window (long enough that coincidental overlap is
    // noise, short enough to catch paraphrase-free leakage). The eval
    // gram set is SMALL by construction → broadcast; the corpus side never
    // shuffles its n-grams, so the 100 TB cost is one scan + map-side
    // semi-join + per-doc count.
    QueryDef("cur5_decontaminate",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |              w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |              w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] AS g
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
        |             FROM ws WHERE len(w) >= 8)),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 10 = 0)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS hits
        |FROM sh s JOIN ev ON s.g = ev.g
        |WHERE s.doc_id % 10 <> 0
        |GROUP BY s.doc_id
        |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      // both join sides derive from the same gram frame — cache it so the
      // corpus is shingled once, not once per side
      val sh = grams(docs(s, dir), 8).cache()
      val ev = sh.filter(col("doc_id") % 10 === 0).select("g").distinct()
      sh.filter(col("doc_id") % 10 =!= 0)
        .join(broadcast(ev), Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("hits"))
        .orderBy("doc_id")
    },

    // CUR6: sequence packing — assign documents (in doc_id order) to
    // fixed-token-budget training sequences: each doc lands in the bin
    // where its first token falls, bin = cum_tokens_before / 512. The
    // interesting part is the GLOBAL prefix sum without a global sort:
    // range-repartition by doc_id, per-partition running sums under a
    // (pid)-keyed window, then each partition's base offset comes from a
    // tiny per-partition total (one row per partition — driver-side
    // exclusive prefix over ≤ #partitions values, the same bounded
    // collect d7 uses for convergence). No single-partition exchange
    // anywhere; the corpus takes two DISTRIBUTED shuffles — the range
    // partitioning plus the __pid hash exchange the per-partition window
    // adds (CurationSpec pins exactly this plan shape).
    QueryDef("cur6_sequence_packing",
      s"""WITH t AS (SELECT doc_id,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |            FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |             sum(n_tok) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cb
        |      FROM t)
        |SELECT CAST(cb // $PackBudget AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      packSequences(docs(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok")))
    },

    // CUR7: quality-floor cut — drop the bottom quartile of documents PER
    // LANGUAGE by the shared t3 quality score (a relative threshold per
    // stratum, the standard way to avoid one language's score distribution
    // starving another). Rank-based (row_number vs floor(n/4)) so the cut
    // is integer-exact in both engines — an interpolated-percentile
    // threshold would compare against engine-specific float interpolation.
    // Shape: one shuffle on lang + per-partition sort. At corpus scale the
    // per-lang FULL sort is the expensive exact form; the production path
    // computes an approx_percentile threshold (one pass, mergeable sketch)
    // and broadcast-filters — CurationSpec pins the approx variant against
    // this exact cut.
    QueryDef("cur7_quality_floor",
      s"""WITH q AS (SELECT doc_id, lang, ${TextAnalysis.qualitySql} AS quality
        |            FROM documents),
        |r AS (SELECT doc_id, lang, quality,
        |             row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS n
        |      FROM q)
        |SELECT lang, CAST(count(*) AS BIGINT) AS kept,
        |       CAST(min(quality) AS DOUBLE) AS min_kept_quality
        |FROM r WHERE rn > n // 4
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      qualityFloorExact(docs(s, dir))
        .groupBy("lang")
        .agg(count(lit(1)).as("kept"), min("quality").as("min_kept_quality"))
        .orderBy("lang")
    },

    // PIPE1: the composed corpus build — the product story in one query:
    // quality-floor cut (cur7) → exact dedup over the survivors (d1's
    // kernel) → sequence packing of the cleaned corpus (cur6's core).
    // Each stage is individually oracled above; this entry pins that they
    // COMPOSE — survivors of one stage feed the next with no impedance
    // (same doc_id/text frame), and the pipeline's total shuffle budget is
    // the sum of its stages (lang window + hash window + range partition),
    // nothing multiplicative.
    QueryDef("pipe1_corpus_build",
      s"""WITH q AS (SELECT doc_id, lang, text, ${TextAnalysis.qualitySql} AS quality
        |            FROM documents),
        |r AS (SELECT doc_id, lang, text, quality,
        |             row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS n
        |      FROM q),
        |keep AS (SELECT doc_id, text FROM r WHERE rn > n // 4),
        |ded AS (SELECT doc_id, text FROM (
        |          SELECT doc_id, text,
        |                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dn
        |          FROM keep) WHERE dn = 1),
        |t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |      FROM ded),
        |c AS (SELECT doc_id, n_tok,
        |             sum(n_tok) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cb
        |      FROM t)
        |SELECT CAST(cb // $PackBudget AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val kept = qualityFloorExact(docs(s, dir)).select("doc_id", "text")
      val deduped = Dedup.keepFirstBy(kept, md5(col("text").cast("binary")))
      packSequences(deduped
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok")))
    }
  )

  /** Approximate quality-floor cut — the 100 TB form of cur7: per-lang
    * threshold from `approx_percentile` (one pass, mergeable sketch,
    * bounded error) broadcast back as a filter; no per-lang sort of the
    * corpus. CurationSpec pins its kept-set against the exact cut. */
  def qualityFloorApprox(d: DataFrame): DataFrame = {
    val thr = d.select(col("lang"), TextAnalysis.qualityCol.as("quality"))
      .groupBy("lang")
      .agg(expr("approx_percentile(quality, 0.25, 10000)").as("thr"))
    d.select(col("doc_id"), col("lang"), TextAnalysis.qualityCol.as("quality"))
      .join(broadcast(thr), Seq("lang"))
      .filter(col("quality") >= col("thr"))
  }
}
