package graft.operators

import graft.{Paths, SparkSpec}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The persisted ANN index must honor the reference's build-once /
  * probe-many contract (stockify.cu:659-684): a probe may only READ the
  * probed inverted lists — proven here with scan metrics, not plan
  * strings — and must return exactly what the inline (fused build+probe)
  * form returns, so every recall pin on the inline path transfers. */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf).cache()

  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
  }

  test("IVF probe scans only the probed lists (partition pruning) and matches the inline result") {
    val base = s"${Paths.work}/graft-ivfidx-test/ivf"
    IvfIndex.buildIvf(emb, base)
    val n = emb.count()
    val q = broadcast(emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))

    // nprobe=4 of 16 lists: every leaf scan of the probe plan together
    // (pruned lists + the 1-row query lookup) must emit well under half
    // the STORED list rows (AssignR·n with multi-assignment) — the
    // directory pruning is real, not cosmetic
    val probe4 = IvfIndex.probeIvf(spark, base, q, k = 20, nprobe = 4,
      excludeVecId = 0L)
    val read = scanOutputRows(probe4)
    val listRows = Similarity.AssignR * n
    assert(read < listRows / 2, s"probe read $read of $listRows list rows — lists not pruned")

    // probe-from-disk ≡ inline fused build+probe, row for row (same
    // deterministic quantizer, same algebra) — recall pins transfer
    val persisted = IvfIndex.probeIvf(spark, base, q, k = 20, nprobe = 8,
      excludeVecId = 0L).collect().toSeq
    val inline = Similarity.ivfTopK(emb, queryVecId = 0L, k = 20, nprobe = 8)
      .collect().toSeq
    assert(persisted === inline)
  }

  test("incremental append folds new vectors into the persisted lists without a rebuild") {
    val base = s"${Paths.work}/graft-ivfidx-test/ivf-append"
    val n = emb.count()
    val oldHalf = emb.filter(col("vec_id") % 2 === 0)
    val newHalf = emb.filter(col("vec_id") % 2 =!= 0)
    IvfIndex.buildIvf(oldHalf, base)
    IvfIndex.appendIvf(newHalf, base)

    // list contents == multi-assigning the FULL corpus against the
    // ORIGINAL (half-built) centroids — append must not move anything
    // already there
    val cs = IvfIndex.centroids(spark, base)
    val want = Similarity.assignTo(emb, cs, Similarity.AssignR)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = IvfIndex.lists(spark, base)
      // committed partition type rides the manifest — normalize anyway
      .select(col("vec_id"), col("list_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)

    // staleness count advanced IN the append's own commit: the grown
    // corpus now reads as fresh
    assert(IvfIndex.indexedCount(base) === Some(n))

    // probe quality over the appended index: recall@10 vs brute force
    val q = broadcast(emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))
    val approx = IvfIndex.probeIvf(spark, base, q, k = 10, nprobe = 8,
      excludeVecId = 0L).collect().map(_.getLong(0)).toSet
    val exact = emb.filter(col("vec_id") =!= 0).crossJoin(q)
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall after append: $recall")
  }

  test("appendIvf commit protocol: concurrent appends serialize and the meta stays exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = s"${Paths.work}/graft-ivfidx-test/ivf-concurrent"
    val n = emb.count()
    // build on a third of the corpus, then race two disjoint batches
    IvfIndex.buildIvf(emb.filter(col("vec_id") % 3 === 0), base)
    val f1 = Future(IvfIndex.appendIvf(emb.filter(col("vec_id") % 3 === 1), base))
    val f2 = Future(IvfIndex.appendIvf(emb.filter(col("vec_id") % 3 === 2), base))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)
    // the count advanced to exactly the full corpus: the manifest-CAS
    // loser re-derived its count against the winner's snapshot (no lost
    // or double count), and the lists hold every vector AssignR times
    assert(IvfIndex.indexedCount(base) === Some(n))
    val lists = IvfIndex.lists(spark, base)
    assert(lists.select("vec_id").distinct().count() === n)
    assert(lists.count() === Similarity.AssignR * n)
  }

  test("appendIvf rejects a batch whose vec_ids overlap the index (disjoint-id contract)") {
    val base = s"${Paths.work}/graft-ivfidx-test/ivf-overlap"
    IvfIndex.buildIvf(emb.filter(col("vec_id") < 30), base)
    val before = IvfIndex.lists(spark, base).count()
    val vBefore = TxLog.currentVersion(s"$base/lists")
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.appendIvf(emb.filter(col("vec_id") < 10), base) // already indexed
    }
    assert(ex.getMessage.contains("disjoint") || ex.getMessage.contains("already"))
    // the rejected batch must not have committed anything
    assert(IvfIndex.lists(spark, base).count() === before)
    assert(TxLog.currentVersion(s"$base/lists") === vBefore)
  }

  test("IVF-PQ probe prunes the code scan and matches the inline result") {
    val base = s"${Paths.work}/graft-ivfidx-test/ivfpq"
    IvfIndex.buildIvfPq(emb, base)
    val n = emb.count()

    val persisted = IvfIndex.ivfpqTopKPersisted(emb, sf, queryVecId = 0L,
      k = 20, nprobe = 8, rerank = 400)
    val inline = Quantization.ivfpqTopK(emb, queryVecId = 0L, k = 20,
      nprobe = 8, rerank = 400)
    assert(persisted.collect().toSeq === inline.collect().toSeq)

    // the ranking scan reads codes from the probed list directories only:
    // nprobe=2 of 16 lists → the code rows entering ADC are a sliver
    val codes = spark.read.parquet(s"$base/codes")
    val probedScan = codes.filter(col("list_id").isin(0L, 1L))
    assert(scanOutputRows(probedScan) < n / 2,
      "literal list_id filter must prune the partitioned code layout")
  }

  test("batch kNN join via persisted lists: recall vs the exact kNN join") {
    // exact twin: sim2 (brute kNN join, 10 queries × top-5)
    val exact = Similarity.defs.find(_.name == "sim2_knn_join").get
      .run(spark, sf).select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = IvfIndex.knnJoinPersisted(emb, sf, nQueries = 10, k = 5,
      nprobe = 8).select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet === exact.keySet, "every query must produce rows")
    assert(approx.values.forall(_.size == 5), "top-5 per query")
    val recalls = exact.map { case (q, t) =>
      t.intersect(approx(q)).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 over 10 queries = $mean%.2f")
    assert(mean >= 0.7, s"mean recall $mean")
  }

  test("persisted flat-PQ probe matches the inline build+probe result") {
    val persisted = IvfIndex.pqTopKPersisted(emb, sf, queryVecId = 0L,
      k = 20, rerank = 100)
    val inline = Quantization.pqTopK(emb, queryVecId = 0L, k = 20,
      rerank = 100)
    assert(persisted.collect().toSeq === inline.collect().toSeq)
  }

  test("persisted index rebuilds when the corpus changes (staleness key)") {
    import spark.implicits._
    val tiny = emb.limit(64).select("vec_id", "embedding").cache()
    val dirTag = "/tmp-ivf-staleness" // distinct sfDir → distinct index dir
    val r1 = IvfIndex.ivfTopKPersisted(tiny, dirTag, queryVecId = 0L,
      k = 5, nprobe = 16).collect()
    assert(r1.nonEmpty)
    // grow the corpus: the meta row count changes, the index must rebuild
    // and the new vectors become findable
    val grown = tiny.unionByName(tiny
      .withColumn("vec_id", col("vec_id") + 5000L))
    val r2 = IvfIndex.ivfTopKPersisted(grown, dirTag, queryVecId = 0L,
      k = 200, nprobe = 16).collect()
    assert(r2.map(_.getLong(0)).exists(_ >= 5000L),
      "rebuild after corpus change must index the new vectors")
    tiny.unpersist()
  }

  test("filtered ANN: selectivity widening, pruned+pushed-down probe, recall floor") {
    // the widening formula in exact terms: 1 probe list × a label kept by
    // ~1/10 of the corpus → ~10 lists; a never-selective filter stays put;
    // an absurdly rare one saturates at ALL lists (graceful exhaustive
    // scan of the filtered rows, never a failure)
    assert(IvfIndex.widenedNprobe(1, 500, 50) === 10)
    assert(IvfIndex.widenedNprobe(4, 500, 500) === 4)
    assert(IvfIndex.widenedNprobe(1, 500, 1) === Similarity.IvfK)
    assert(IvfIndex.widenedNprobe(2, 500, 0) === 2)

    val approx = IvfIndex.filteredTopKPersisted(emb, sf, queryVecId = 0L,
      labelVal = 3, k = 20, nprobe = 1)
    // every returned row really carries the label (the filter is
    // semantic, not a ranking bias)
    val labels = emb.select("vec_id", "label")
    assert(approx.join(labels, "vec_id")
      .filter(col("label") =!= 3).count() === 0)
    // recall vs the exact filtered twin — the sim10b floor, measured
    val exact = Similarity.defs.find(_.name == "sim9_filtered_topk").get
      .run(spark, sf).select("vec_id").collect().map(_.getLong(0)).toSet
    val got = approx.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"filtered recall@20 = $recall%.2f")
    assert(recall >= 0.8, s"filtered recall $recall")
    // the label predicate reaches the parquet scan of the labeled lists
    // (payload co-located with vectors: a pushdown, not a join)
    val plan = IvfIndex.filteredTopKPersisted(emb, sf, queryVecId = 0L,
      labelVal = 3, k = 20, nprobe = 1).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"label filter should push to the list scan:\n$plan")
  }
}
