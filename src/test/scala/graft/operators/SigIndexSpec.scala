package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Persisted incremental near-dedup index: append must equal rebuild,
  * overlapping appends must be rejected atomically, and a batch sharing
  * no buckets with the corpus must probe to empty (and cheaply). */
class SigIndexSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  test("append == rebuild: folding a batch in matches indexing everything at once") {
    val b1 = docs.filter(col("doc_id") % 3 === 0)
    val b2 = docs.filter(col("doc_id") % 3 === 1)
    val probeBatch = docs.filter(col("doc_id") % 3 === 2)
    val incDir = freshRoot("sigidx-inc")
    val fullDir = freshRoot("sigidx-full")
    SigIndex.build(b1, incDir)
    SigIndex.append(b2, incDir)
    SigIndex.build(b1.unionByName(b2), fullDir)
    val inc = SigIndex.probe(spark, incDir, probeBatch)
      .orderBy("old_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val full = SigIndex.probe(spark, fullDir, probeBatch)
      .orderBy("old_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.toSeq === full.toSeq)
    assert(inc.nonEmpty, "fixture must exercise cross-batch near-dups")
  }

  test("sync follows the corpus change feed: appends, MoR deletes, MoR updates — sync == rebuild") {
    val corpus = freshRoot("sigidx-corpus")
    val idxDir = freshRoot("sigidx-sync")
    val rebuildDir = freshRoot("sigidx-syncfull")
    val base = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    TxLog.init(spark, corpus, base.repartition(4))
    assert(SigIndex.buildFrom(spark, corpus, idxDir) === 1L)
    // corpus evolves: an append, a MoR delete, and a MoR UPDATE (which
    // feeds as delete(pre) + insert(post) of the SAME doc_id — the
    // forget-then-append ordering sync must get right)
    TxLog.appendOnce(spark, corpus, "b1",
      docs.filter(col("doc_id") % 3 === 1).select("doc_id", "text"))
    TxLog.deleteMoR(spark, corpus, col("doc_id") % 7 === 0)
    TxLog.updateMoR(spark, corpus, col("doc_id") % 11 === 1,
      Seq("text" -> concat(col("text"), lit(" EDITED"))))
    val synced = SigIndex.sync(spark, idxDir, corpus)
    assert(synced === 4L)
    assert(SigIndex.sync(spark, idxDir, corpus) === 4L, "re-sync must no-op")
    // the synced index must EQUAL an index built from the final corpus:
    // same count, same probe results
    SigIndex.build(TxLog.read(spark, corpus), rebuildDir)
    assert(SigIndex.indexedCount(idxDir) === SigIndex.indexedCount(rebuildDir))
    assert(SigIndex.indexedCount(idxDir) ===
      Some(TxLog.read(spark, corpus).count()))
    val probeBatch = docs.filter(col("doc_id") % 3 === 2)
    def pairs(d: String) = SigIndex.probe(spark, d, probeBatch)
      .orderBy("old_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inc = pairs(idxDir)
    assert(inc === pairs(rebuildDir))
    assert(inc.nonEmpty, "fixture must exercise cross-corpus near-dups")
    // forget is idempotent: re-forgetting absent ids moves nothing
    val n = SigIndex.indexedCount(idxDir)
    SigIndex.forget(spark, idxDir, Seq(0L, 7L, 14L))
    assert(SigIndex.indexedCount(idxDir) === n)
  }

  test("syncStream: the index follows the corpus as a CONTINUOUS stream " +
      "(stream == sync == rebuild), resumable from the checkpoint") {
    val corpus = freshRoot("sigidx-scorpus")
    val idxDir = freshRoot("sigidx-stream")
    val rebuildDir = freshRoot("sigidx-sfull")
    val ckpt = freshRoot("sigidx-sckpt")
    val base = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    TxLog.init(spark, corpus, base.repartition(4))
    assert(SigIndex.buildFrom(spark, corpus, idxDir) === 1L)
    TxLog.appendOnce(spark, corpus, "b1",
      docs.filter(col("doc_id") % 3 === 1).select("doc_id", "text"))
    TxLog.deleteMoR(spark, corpus, col("doc_id") % 7 === 0)
    // drain the backlog as a stream (AvailableNow: run-to-current, stop)
    SigIndex.syncStream(spark, idxDir, corpus, ckpt)
      .awaitTermination()
    assert(SigIndex.indexedCount(idxDir) ===
      Some(TxLog.read(spark, corpus).count()))
    // the corpus keeps moving: an update and a compact land AFTER the
    // first drain; a SECOND stream run resumes from the same checkpoint
    // (offsets are manifest versions) and folds only the new range —
    // the compact is cdc_noop-invisible and must disturb nothing
    TxLog.updateMoR(spark, corpus, col("doc_id") % 11 === 1,
      Seq("text" -> concat(col("text"), lit(" EDITED"))))
    TxLog.compact(spark, corpus, targetFiles = 4)
    SigIndex.syncStream(spark, idxDir, corpus, ckpt)
      .awaitTermination()
    SigIndex.build(TxLog.read(spark, corpus), rebuildDir)
    assert(SigIndex.indexedCount(idxDir) === SigIndex.indexedCount(rebuildDir))
    val probeBatch = docs.filter(col("doc_id") % 3 === 2)
    def pairs(d: String) = SigIndex.probe(spark, d, probeBatch)
      .orderBy("old_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs(idxDir) === pairs(rebuildDir))
    assert(pairs(idxDir).nonEmpty, "fixture must exercise near-dups")
    // a THIRD run with nothing new: the stream sees no offset movement
    // and the index is untouched (replay guard + version offsets)
    val v = TxLog.currentVersion(SigIndex.tableRoot(idxDir))
    SigIndex.syncStream(spark, idxDir, corpus, ckpt).awaitTermination()
    assert(TxLog.currentVersion(SigIndex.tableRoot(idxDir)) === v)
  }

  test("append with overlapping doc_ids is rejected before any commit") {
    val b1 = docs.filter(col("doc_id") < 50)
    val dir = freshRoot("sigidx-ovl")
    SigIndex.build(b1, dir)
    val before = SigIndex.indexedCount(dir)
    val vBefore = TxLog.currentVersion(SigIndex.tableRoot(dir))
    intercept[IllegalArgumentException] {
      SigIndex.append(docs.filter(col("doc_id") < 10), dir)
    }
    assert(SigIndex.indexedCount(dir) === before,
      "failed append must not have advanced the committed count")
    assert(TxLog.currentVersion(SigIndex.tableRoot(dir)) === vBefore,
      "failed append must not have published a version")
  }

  test("concurrent appends serialize through the manifest CAS; the count stays exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshRoot("sigidx-race")
    SigIndex.build(docs.filter(col("doc_id") % 3 === 0), dir)
    // two disjoint batches race: the CAS loser re-reads the fresh
    // snapshot and re-derives its count — no lost update
    val f1 = Future(SigIndex.append(docs.filter(col("doc_id") % 3 === 1), dir))
    val f2 = Future(SigIndex.append(docs.filter(col("doc_id") % 3 === 2), dir))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)
    assert(SigIndex.indexedCount(dir) === Some(docs.count()))
    assert(SigIndex.postings(spark, dir).select("doc_id").distinct().count() ===
      Dedup.shingles(docs).select("doc_id").distinct().count())
  }

  test("a crashed append (staged data, no manifest) is invisible and vacuumable") {
    val dir = freshRoot("sigidx-crash")
    SigIndex.build(docs.filter(col("doc_id") < 100), dir)
    val root = SigIndex.tableRoot(dir)
    val vBefore = TxLog.currentVersion(root)
    val bandsBefore = SigIndex.bands(spark, dir).count()
    // simulate a writer that died after staging, before its CAS publish:
    // a data directory exists that no manifest references
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .write.parquet(s"$root/data/c-crashed0001")
    assert(TxLog.currentVersion(root) === vBefore, "no version published")
    assert(SigIndex.bands(spark, dir).count() === bandsBefore,
      "unpublished staging must be invisible to reads")
    // the janitor is TxLog.vacuum now — no index-specific recovery code
    assert(TxLog.vacuum(root, graceMs = 0L) >= 1)
    assert(!new java.io.File(s"$root/data/c-crashed0001").exists())
    assert(SigIndex.bands(spark, dir).count() === bandsBefore)
  }

  test("ingest of a ZERO-SHINGLE batch neither hangs nor miscounts " +
      "(AQE empty-relation guard), and its overlap gate still fires") {
    import spark.implicits._
    val idx = freshRoot("sigidx-short")
    val sink = freshRoot("sigidx-short-pairs")
    val b0 = docs.filter(col("doc_id") < 100).select("doc_id", "text")
    SigIndex.ingestBatch(spark, idx, sink, b0, 0L) // bootstrap
    val n0 = SigIndex.indexedCount(idx).get
    // every doc under 3 words → zero shingles, zero bands: the fused
    // observe metric's scan subtree would be PRUNED by AQE empty-relation
    // propagation (empty broadcast side) — without the fallback gate the
    // ingest hangs forever awaiting the observation
    val shorties = Seq((900001L, "hi"), (900002L, "a b"))
      .toDF("doc_id", "text")
    SigIndex.ingestBatch(spark, idx, sink, shorties, 1L)
    assert(SigIndex.indexedCount(idx) === Some(n0 + 2),
      "zero-shingle docs still count toward kv:n")
    assert(spark.read.parquet(s"$sink/batch_id=1").count() === 0L,
      "pairs partition exists with the right schema, zero rows")
    // an EMPTY replayed batch takes the same guard path: completes, no-ops
    SigIndex.ingestBatch(spark, idx, sink,
      b0.limit(0).select("doc_id", "text"), 2L)
    assert(SigIndex.indexedCount(idx) === Some(n0 + 2))
    // and a zero-shingle batch whose ids OVERLAP the corpus still
    // rejects — the fallback disjointness job covers the degenerate
    // shape the fused metric cannot
    intercept[IllegalArgumentException] {
      SigIndex.ingestBatch(spark, idx, sink,
        Seq((1L, "too short")).toDF("doc_id", "text"), 3L)
    }
    assert(SigIndex.indexedCount(idx) === Some(n0 + 2),
      "rejected batch must not advance the count")
  }

  test("a batch sharing no shingles with the corpus probes to empty") {
    import spark.implicits._
    val dir = freshRoot("sigidx-disj")
    SigIndex.build(docs.filter(col("doc_id") < 100), dir)
    val alien = Seq((100000L, (1 to 20).map(i => s"alien$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(SigIndex.probe(spark, dir, alien).count() === 0)
  }

  test("past the shingle-broadcast budget the probe falls back to the " +
      "shuffled exactJaccard plan — identical pairs either way") {
    val dir = freshRoot("sigidx-shguard")
    SigIndex.build(docs.filter(col("doc_id") % 3 =!= 2), dir)
    val probeBatch = docs.filter(col("doc_id") % 3 === 2)
    def run() = SigIndex.probe(spark, dir, probeBatch)
      .orderBy("old_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val normal = run()
    val prev = sys.props.get("graft.sigindex.broadcastShingleRows")
    val guarded = try {
      sys.props("graft.sigindex.broadcastShingleRows") = "0"
      run()
    } finally prev match {
      case Some(v) => sys.props("graft.sigindex.broadcastShingleRows") = v
      case None => sys.props.remove("graft.sigindex.broadcastShingleRows")
    }
    assert(guarded === normal,
      "the size-guard fallback plan must change exchanges, not answers")
    assert(normal.nonEmpty, "fixture must produce candidate pairs")
  }

  test("probe plan prunes the postings scan behind a semi join (non-candidates never leave the index)") {
    val dir = freshRoot("sigidx-plan")
    SigIndex.build(docs.filter(col("doc_id") % 5 =!= 0), dir)
    val plan = SigIndex.probe(spark, dir, docs.filter(col("doc_id") % 5 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"plan:\n$plan")
  }

  test("streaming ingest: micro-batches probe-then-append; emitted pairs cover the cross-batch near-dups") {
    val stage = freshRoot("sigidx-stream-src")
    new java.io.File(stage).mkdirs()
    val b1 = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val b2 = docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    b1.coalesce(1).write.parquet(s"$stage/f0.parquet")
    b2.coalesce(1).write.parquet(s"$stage/f1.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$stage/*.parquet")
    val idx = freshRoot("sigidx-stream-idx")
    val sink = freshRoot("sigidx-stream-pairs")
    val q = SigIndex.streamingIngest(stream, idx,
      sink, freshRoot("sigidx-stream-chk"))
    q.awaitTermination(180000)
    assert(!q.isActive, "ingest stream did not finish")
    // emitted pairs, as an UNORDERED id-pair set (batch order is the file
    // source's choice — direction may flip)
    val got = spark.read.parquet(sink)
      .select(least(col("old_id"), col("new_id")).as("lo"),
        greatest(col("old_id"), col("new_id")).as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact cross-split near-dup pairs at tau
    val sh = Dedup.shingles(docs).cache()
    val want = Dedup.exactJaccard(sh, Dedup.lshCandidates(Dedup.minhashSignature(sh)))
      .filter(col("jac") >= Dedup.Tau)
      .filter((col("a_id") % 5 === 0) =!= (col("b_id") % 5 === 0))
      .select(least(col("a_id"), col("b_id")).as("lo"),
        greatest(col("a_id"), col("b_id")).as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sh.unpersist()
    assert(got === want)
    assert(got.nonEmpty, "fixture must exercise cross-batch near-dups")
    // the folded index equals indexing everything at once: a fresh probe
    // of an out-of-corpus near-copy behaves identically on both
    assert(SigIndex.indexedCount(idx) === Some(docs.count()))
  }

  test("ingest batches replay idempotently (at-least-once foreachBatch)") {
    val idx = freshRoot("sigidx-replay-idx")
    val sink = freshRoot("sigidx-replay-pairs")
    val b1 = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val b2 = docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text")

    SigIndex.ingestBatch(spark, idx, sink, b1, 0L)
    SigIndex.ingestBatch(spark, idx, sink, b2, 1L)
    def state() = (
      SigIndex.indexedCount(idx).get,
      SigIndex.postings(spark, idx).count(),
      SigIndex.bands(spark, idx).count(),
      spark.read.parquet(sink).select("old_id", "new_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val before = state()
    assert(before._1 === docs.count())
    assert(before._4.nonEmpty, "fixture must emit cross-batch pairs")

    // the at-least-once case: the checkpoint commit was lost and both
    // batches re-deliver — nothing may double-append or duplicate pairs
    SigIndex.ingestBatch(spark, idx, sink, b1, 0L)
    SigIndex.ingestBatch(spark, idx, sink, b2, 1L)
    assert(state() === before)
  }
}
