package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf).cache()

  test("exact dedup keeps one survivor per duplicated content") {
    // corpus has no byte-identical dups; duplicate it to create some
    val doubled = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000))
    val survivors = Dedup.keepFirstBy(doubled, md5(col("text").cast("binary")))
    assert(survivors.count() === docs.count())
    // lowest doc_id wins
    assert(survivors.filter(col("doc_id") >= 1000000).count() === 0)
  }

  test("normalization collapses case/punctuation/whitespace variants") {
    import spark.implicits._
    val variants = Seq("Hello,  World!", "hello world", "HELLO   WORLD.")
      .toDF("text")
    val norm = variants.select(Dedup.normalized(col("text")).as("n"))
      .distinct().collect()
    assert(norm.length === 1 && norm(0).getString(0) === "hello world")
  }

  test("LSH finds EXACTLY the exact-Jaccard pair set at tau (100% recall, verified precision)") {
    val sh = Dedup.shingles(docs).cache()
    // ground truth: all-pairs exact jaccard via shingle self-join
    val a = sh.select(col("doc_id").as("a_id"), col("g"))
    val b = sh.select(col("doc_id").as("b_id"), col("g"))
    val allPairs = a.join(b, Seq("g")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val truth = Dedup.exactJaccard(sh, allPairs)
      .filter(col("jac") >= 0.7).select("a_id", "b_id")
    // pipeline under test
    val lsh = Dedup.exactJaccard(sh, Dedup.lshCandidates(Dedup.minhashSignature(sh)))
      .filter(col("jac") >= 0.7).select("a_id", "b_id")
    assert(truth.exceptAll(lsh).count() === 0, "LSH missed true pairs")
    assert(lsh.exceptAll(truth).count() === 0, "LSH emitted false pairs")
    assert(truth.count() > 0, "fixture should contain near-dup pairs")
  }

  test("LSH candidate set is O(n·bands), not O(n²)") {
    val n = docs.count()
    val cand = Dedup.lshCandidates(Dedup.minhashSignature(Dedup.shingles(docs))).count()
    val allPairs = n * (n - 1) / 2
    // 500 docs → 124,750 possible pairs; candidates must be a sliver
    assert(cand < n, s"candidate pairs $cand should be << n=$n (all pairs: $allPairs)")
  }

  test("connected components: chains close transitively, singletons stay canonical") {
    import spark.implicits._
    // chain 1-2-3-4, pair 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connected components: 20-deep chain converges (checkpointed lineage)") {
    import spark.implicits._
    // a pure chain is the worst case for label propagation: diameter 20
    // forces ~20 rounds, crossing several localCheckpoint boundaries
    val n = 21L
    val nodes = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n.toInt)
    assert(got.values.forall(_ === 0L), s"all labels should collapse to 0: $got")
  }

  test("simhash hamming<=3 banding finds planted bit-flip near-dups (and exact dups)") {
    import spark.implicits._
    // plant: 9000/9001 differ by ONE rare token -> fingerprints differ in
    // a few bits; 9002 is byte-identical to 9000 -> hamming 0. The banding
    // must surface the (9000,9002) pair, and agree exactly with a direct
    // all-pairs hamming scan over the same fingerprints (no pair lost).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    val planted = Seq(
      (9000L, base + "lambda"),
      (9001L, base + "mu"),
      (9002L, base + "lambda")
    ).toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").union(planted)
    val banded = Dedup.simhashHammingPairs(corpus, maxHamming = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.contains((9000L, 9002L)), s"identical planted pair missing")
    // cross-check vs brute force over the same 64-bit fingerprints
    val f = Dedup.simhashFingerprints(corpus)
    val brute = f.select(col("doc_id").as("a_id"), col("fp").as("a_fp"))
      .crossJoin(f.select(col("doc_id").as("b_id"), col("fp").as("b_fp")))
      .filter(col("a_id") < col("b_id"))
      .filter(bit_count(col("a_fp").bitwiseXOR(col("b_fp"))) <= 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute, "pigeonhole banding must equal brute-force hamming scan")
  }

  test("simhash banding: candidate buckets stay sparse on a 10x corpus (64-bit blocks)") {
    import spark.implicits._
    // 10 copies of the corpus with every token salted by its OWN doc id —
    // disjoint vocabularies, so the 5000 fingerprints are independent and
    // bucket collisions measure pure banding density. With 16-bit blocks
    // that is ~C(n,2)·4/65536 ≈ 0.15·n rows; the old 8-bit blocks put
    // ~n/256 docs in every bucket (~40·n rows here) and blow past n.
    val copies = (0 until 10).map { i =>
      docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$i/"), col("doc_id"))), " ").as("text"))
    }.reduce(_ union _)
    val n = copies.count()
    val cand = Dedup.simhashCandidates(
      Dedup.simhashFingerprints(copies), maxHamming = 3).count()
    assert(cand < n, s"bucket join produced $cand candidate rows for n=$n")
  }

  test("df cap bounds the inverted-index join under a planted hot shingle") {
    import spark.implicits._
    // 200 docs share ONE viral shingle; everything else is per-doc unique.
    // Uncapped, that single shingle alone contributes C(200,2) join rows —
    // the quadratic bomb. Capped, the join input is empty.
    val n = 200
    val hot = (0 until n).map(i =>
      (50000L + i, s"xx yy zz u${i}a u${i}b u${i}c")).toDF("doc_id", "text")
    val sh = Dedup.shingles(hot).cache()
    def joinRows(s: org.apache.spark.sql.DataFrame): Long =
      s.select(col("doc_id").as("a_id"), col("g"))
        .join(s.select(col("doc_id").as("b_id"), col("g")), Seq("g"))
        .filter(col("a_id") < col("b_id")).count()
    assert(joinRows(sh) === n.toLong * (n - 1) / 2)
    val capped = Dedup.dfCapped(sh, cap = 10)
    assert(joinRows(capped) === 0L)
    // survivors all honor the cap, and per-doc unique shingles survive
    val maxDf = capped.groupBy("g").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxDf <= 10)
    assert(capped.count() === sh.count() - n) // only the viral one dropped
    sh.unpersist()
  }

  test("df-capped jaccard drops hot shingles from BOTH intersection and sizes") {
    import spark.implicits._
    // real testdata never trips the cap (max df 25 at sf0.1), so pin the
    // binding-cap semantics on a constructed corpus: 12 docs share the
    // viral trigram "h1 h2 h3" (df=12 > cap=10 → dropped); docs 1 and 2
    // share a 4-token tail. Capped sets: 4 shingles each, 3 shared →
    // J = 3/5 = 0.6 exactly. Uncapped it would be 4 of 5 → 2/3: a 0.6
    // result proves the SIZES are post-cap, not just the intersection.
    val fillers = (3 to 12).map(i => (i.toLong, s"h1 h2 h3 u${i}a u${i}b u${i}c"))
    val corpus = (Seq(
      (1L, "h1 h2 h3 s1 s2 s3 a1"),
      (2L, "h1 h2 h3 s1 s2 s3 b1")) ++ fillers).toDF("doc_id", "text")
    val sh = Dedup.dfCapped(Dedup.shingles(corpus), cap = 10).cache()
    val cand = sh.select(col("doc_id").as("a_id"), col("g"))
      .join(sh.select(col("doc_id").as("b_id"), col("g")), Seq("g"))
      .filter(col("a_id") < col("b_id")).select("a_id", "b_id").distinct()
    val pairs = Dedup.exactJaccard(sh, cand).collect()
    assert(pairs.length === 1)
    assert((pairs(0).getLong(0), pairs(0).getLong(1)) === (1L, 2L))
    assert(math.abs(pairs(0).getDouble(2) - 0.6) < 1e-12,
      s"capped jaccard should be 3/5, got ${pairs(0).getDouble(2)}")
    sh.unpersist()
  }

  test("connected components: 10k-node chain converges via pointer halving (O(log n) rounds)") {
    // diameter 10,000 >> the 50-round cap: plain neighbor propagation
    // CANNOT converge here — reaching the fixpoint at all proves the
    // halving step works; the wall clock bound guards plan blow-up
    val n = 10000L
    val nodes = spark.range(n).toDF("doc_id")
    val edges = spark.range(n - 1)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val t0 = System.nanoTime()
    val got = Dedup.connectedComponents(nodes, edges).cache()
    assert(got.count() === n)
    assert(got.filter(col("cluster_id") =!= 0L).count() === 0L,
      "all labels must collapse to node 0")
    got.unpersist()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 300.0, f"10k chain took $secs%.1f s — plan blow-up?")
  }

  test("minhash similarity estimates jaccard (signature agreement tracks true jaccard)") {
    val sh = Dedup.shingles(docs).cache()
    val sig = Dedup.minhashSignature(sh)
    // signature agreement between the first true near-dup pair
    val pair = Dedup.exactJaccard(sh,
      Dedup.lshCandidates(sig)).filter(col("jac") >= 0.7)
      .orderBy("a_id", "b_id").limit(1).collect()
    assert(pair.nonEmpty)
    val (aId, bId, jac) = (pair(0).getLong(0), pair(0).getLong(1), pair(0).getDouble(2))
    def sigOf(id: Long): Seq[Long] =
      sig.filter(col("doc_id") === id).collect()(0)
        .getAs[scala.collection.Seq[Long]]("sig").toSeq
    val (sa, sb) = (sigOf(aId), sigOf(bId))
    val agree = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
    assert(math.abs(agree - jac) < 0.35, s"minhash est $agree vs true $jac")
  }

  test("d9 line dedup cuts a planted boilerplate chunk from every carrier, keeps the rest") {
    import spark.implicits._
    // 40 docs: unique 10-word payload + the SAME 10-word footer; 3 docs
    // with no footer. LineDfCap=2 ⇒ the footer (freq 40) is boilerplate,
    // every unique payload chunk (freq 1) survives.
    val footer = (1 to 10).map(i => s"footer$i").mkString(" ")
    val rows = (0 until 40).map { d =>
      (d.toLong, (1 to 10).map(i => s"w${d}_$i").mkString(" ") + " " + footer)
    } ++ (40 until 43).map { d =>
      (d.toLong, (1 to 10).map(i => s"w${d}_$i").mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    // reuse the registered query body via a temp dir? Simpler: replicate the
    // kernel inline with the same constants (the oracled entry covers the
    // registered body; this test pins the SEMANTICS on a constructed corpus).
    val w = col("w")
    val ch = df.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), ceil(size(w) / lit(Dedup.LineWords.toDouble)).cast("int")),
        i => struct(i.as("i"),
          concat_ws(" ", slice(w, (i - 1) * Dedup.LineWords + 1,
            lit(Dedup.LineWords))).as("chunk")))).as("c"))
      .select(col("doc_id"), col("c.chunk").as("chunk"))
    val freq = ch.groupBy("chunk").agg(count(lit(1)).as("f"))
    val hot = freq.filter(col("f") > Dedup.LineDfCap).collect()
    assert(hot.length === 1 && hot(0).getString(0) === footer,
      "exactly the planted footer must be flagged as boilerplate")
    // every doc keeps exactly its unique payload chunk
    val kept = ch.join(freq.filter(col("f") <= Dedup.LineDfCap), Seq("chunk"), "left_semi")
    assert(kept.count() === 43L)
    assert(kept.select("doc_id").distinct().count() === 43L,
      "no document may lose its unique payload chunk")
  }

  test("d11 containment flags full inclusion that symmetric Jaccard dilutes away") {
    import spark.implicits._
    // doc 1's shingle set is wholly inside doc 2 (doc 2 = doc 1 + 30
    // extra tokens): containment = 1.0 but jaccard ≈ 8/38 < d6's 0.3
    // threshold — the asymmetric measure catches what the symmetric one
    // structurally cannot.
    val small = (1 to 10).map(i => s"a$i").mkString(" ")
    val big = small + " " + (1 to 30).map(i => s"z$i").mkString(" ")
    val dir = freshRoot("graft-d11")
    Seq((1L, small, "en", "s", small.length.toLong),
        (2L, big, "en", "s", big.length.toLong),
        (3L, (1 to 12).map(i => s"q$i").mkString(" "), "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d11 = Dedup.defs.find(_.name == "d11_containment").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(d11.toSeq === Seq((1L, 2L, 1.0)))
    val d6 = Dedup.defs.find(_.name == "d6_ngram_jaccard").get.run(spark, dir)
      .filter(col("a_id") === 1 && col("b_id") === 2).count()
    assert(d6 === 0L, "jaccard at 0.3 must NOT see the inclusion pair")
  }

  test("d13 substring dedup: shared runs cover exactly their positions, disjoint runs merge into separate spans") {
    import spark.implicits._
    // doc 1 carries TWO 8-token runs shared with different partners (A with
    // doc 2, B with doc 5), separated by 4 unique tokens: both runs — and
    // ONLY them — are flagged, and they surface as 2 disjoint spans. Doc 6
    // is shorter than the window width: no windows, fully kept.
    val runA = (1 to 8).map(i => s"A$i").mkString(" ")
    val runB = (1 to 8).map(i => s"B$i").mkString(" ")
    val mid = (1 to 4).map(i => s"m$i").mkString(" ")
    val dir = freshRoot("graft-d13")
    Seq(
      (1L, s"$runA $mid $runB"),
      (2L, s"$runA " + (1 to 6).map(i => s"x$i").mkString(" ")),
      (5L, (1 to 6).map(i => s"y$i").mkString(" ") + s" $runB"),
      (6L, "tiny one two"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.defs.find(_.name == "d13_substring_dedup").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 20L, 16L, 2L), // both shared runs covered, 2 merged spans
      (2L, 14L, 8L, 1L),
      (5L, 14L, 8L, 1L),
      (6L, 3L, 0L, 0L))) // sub-window doc untouched
    // an untouched doc's surviving-text fingerprint is the md5 of its text
    val fp6 = Dedup.defs.find(_.name == "d13_substring_dedup").get.run(spark, dir)
      .filter(col("doc_id") === 6L).select("kept_fp").head().getString(0)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("tiny one two".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp6 === md)
  }

  test("d14 tf-idf cosine: identical docs score exactly 1.0; a viral term above the df cap creates no pairs") {
    import spark.implicits._
    // docs 1/2 are identical (every term df=2, under the cap) → the one
    // reported pair at cosine 1.0. Docs 100..169 all share the term
    // "viral" (df=70 > DfCap=64) and nothing else: the stopword guard
    // drops it, so NO pair forms from a term that carries no identity
    // signal — without the cap this would be C(70,2) join rows.
    val dir = freshRoot("graft-d14")
    (Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta")) ++
      (100L until 170L).map(i => (i, s"viral only$i word$i")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.defs.find(_.name == "d14_tfidf_cosine").get.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("d10 keep-best-copy keeps the LONGEST duplicate, not the first") {
    import spark.implicits._
    // three copies of one normalized text, different raw lengths/ids: the
    // longest (doc 30, punctuated = longer raw form) must win over the
    // earlier-id shorter copies.
    val df = Seq(
      (10L, "alpha beta gamma", 16L),
      (20L, "Alpha beta GAMMA", 16L),
      (30L, "Alpha, beta... GAMMA!", 21L),
      (99L, "something else", 14L)
    ).toDF("doc_id", "text", "n_chars")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(Dedup.normalized(col("text")).cast("binary")))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val kept = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(30L, 99L))
  }
}
