package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature index for INCREMENTAL near-dedup — the
  * production shape document dedup actually runs in: the corpus is
  * deduplicated once, and every NEW crawl batch is checked against the
  * existing corpus without recomputing it (the d3 pipeline recomputes
  * everything per run; this is its build-once/probe-many sibling, the
  * dedup analog of IvfIndex's ANN split).
  *
  * The index IS a transaction-log table (`<idx>/t`, a [[TxLog]] root),
  * partitioned by `kind`:
  *   - `kind=b` rows (doc_id, band, bh) — LSH bucket membership; a
  *     probe's candidate join is keyed on (band, bh)
  *   - `kind=p` rows (doc_id, g) — the distinct shingles backing the
  *     EXACT Jaccard verification of candidates (the honest index cost:
  *     linear in corpus shingles; only candidate docs' postings are ever
  *     read back thanks to a semi-join)
  * and the indexed-doc count rides as the `kv:n` table property —
  * REPLACED in the same atomic manifest publish as the rows it counts.
  *
  * That single-table shape is what retired the old side protocol
  * (IndexCommit claim/stage/janitor): one batch = ONE manifest commit
  * covering buckets + postings + count together, so there is no crash
  * point where readers see a torn index — an append that dies mid-stage
  * leaves only an unreferenced data directory (invisible, vacuumable),
  * and at-least-once replay is [[TxLog.appendOnceMonotone]]'s O(1)
  * high-water ledger instead of marker files. Rebuilds go through
  * [[TxLog.replaceTable]]: CAS-atomic, tag ledger reset with the data.
  *
  * Probe scale shape: new-batch shingles/signatures are computed once
  * (narrow, batch-sized); the candidate join is keyed on (band, bh) —
  * O(batch·bands) rows against the persisted buckets, never corpus ×
  * batch; verification touches only candidate documents' postings
  * (left-semi pushdown into the pinned-snapshot scan), and the exact
  * Jaccard join is bounded by candidate postings. Probes pin a snapshot
  * version, so a concurrent writer never shifts the ground under a
  * running probe (snapshot isolation for free from the log).
  */
object SigIndex {

  private def pathFor(sfDir: String): String =
    s"${IvfIndex.DefaultRoot}/sig-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The index's txlog table root. */
  private[operators] def tableRoot(idx: String): String = s"$idx/t"

  private val buildLock = new Object

  /** Indexed-document count of the committed index (the `kv:n` staleness
    * key). None for an index that never committed. */
  def indexedCount(idx: String): Option[Long] =
    TxLog.snapshot(tableRoot(idx))
      .flatMap(s => TxLog.kvOf(s.notes).get("n")).map(_.toLong)

  private def isFresh(old: DataFrame, idx: String): Boolean =
    indexedCount(idx).contains(old.count())

  /** The pinned band rows (doc_id, band, bh) of snapshot `v`. The `kind`
    * partition filter constant-folds the postings file groups out of the
    * plan — partition pruning via the manifest, no directory walk. */
  private def bandsAt(s: SparkSession, idx: String, v: Long): DataFrame =
    TxLog.read(s, tableRoot(idx), v).filter(col("kind") === "b")
      .select("doc_id", "band", "bh")

  /** The pinned posting rows (doc_id, g) of snapshot `v`. */
  private def postingsAt(s: SparkSession, idx: String, v: Long): DataFrame =
    TxLog.read(s, tableRoot(idx), v).filter(col("kind") === "p")
      .select("doc_id", "g")

  /** Committed-latest reads (spec/inspection surface). */
  def bands(s: SparkSession, idx: String): DataFrame =
    bandsAt(s, idx, TxLog.currentVersion(tableRoot(idx)))
  def postings(s: SparkSession, idx: String): DataFrame =
    postingsAt(s, idx, TxLog.currentVersion(tableRoot(idx)))

  /** One frame holding both row kinds of a batch, clustered for the
    * partitioned stage: bands bucket by `band` (band-clustered files →
    * row-group stats stay tight), postings spread by shingle hash
    * (balanced files). `parts` bounds files-per-commit — a micro-batch
    * append stages a handful of files, not one per shuffle task. */
  private def indexRows(sh: DataFrame, nbands: DataFrame, parts: Int): DataFrame = {
    val p = sh.select(col("doc_id"), lit(null).cast("int").as("band"),
      lit(null).cast("long").as("bh"), col("g"), lit("p").as("kind"))
    val b = nbands.select(col("doc_id"), col("band"), col("bh"),
      lit(null).cast("string").as("g"), lit("b").as("kind"))
    p.unionByName(b).repartition(parts, col("kind"),
      coalesce(col("band"), pmod(xxhash64(col("g")), lit(64)).cast("int")))
  }

  /** Build the signature index over `docs`, replacing any prior index in
    * ONE CAS-atomic commit (no torn-rebuild window). `hwBatchId`, when
    * set, stamps the stream's replay high-water into the same publish —
    * the bootstrap batch's ledger entry. */
  def build(docs: DataFrame, idx: String, hwBatchId: Option[Long] = None,
      extraKv: Map[String, String] = Map.empty): Unit = {
    val sh = Dedup.shingles(docs).cache()
    try {
      val n = docs.count()
      val rows = indexRows(sh, Dedup.signatureBands(Dedup.minhashSignature(sh)),
        parts = 32)
      TxLog.replaceTable(docs.sparkSession, tableRoot(idx), rows,
        partCol = Some("kind"),
        note = hwBatchId.map(id => s"hw:batch:$id").getOrElse(""),
        kv = Map("n" -> n.toString) ++ extraKv)
    } finally sh.unpersist()
  }

  /** [[build]] from a CORPUS transaction-log table, recording the corpus
    * version the index reflects as the `kv:sync_v` property — the
    * high-water [[sync]] advances. */
  def buildFrom(s: SparkSession, corpusRoot: String, idx: String): Long =
    buildFromVersion(s, corpusRoot, idx, TxLog.currentVersion(corpusRoot))

  /** [[buildFrom]] PINNED to an explicit corpus version — what lets a
    * caller overlap the index build with further corpus commits (guide
    * §2.6 independent job trees: the build reads the pinned version's
    * immutable files and writes a DIFFERENT txlog root, so it cannot
    * contend with corpus writers; a later [[sync]] folds everything
    * past `v` regardless of how the two interleaved). */
  def buildFromVersion(s: SparkSession, corpusRoot: String, idx: String,
      v: Long): Long = {
    build(TxLog.read(s, corpusRoot, v), idx,
      extraKv = Map("sync_v" -> v.toString))
    v
  }

  /** Remove documents from the index — the right-to-be-forgotten leg,
    * and [[sync]]'s delete path. One merge-on-read delete commit covers
    * both row kinds (buckets + postings share doc_id) with the `kv:n`
    * count decremented ATOMICALLY via deleteMoR's kvFn: the decrement is
    * derived from the attempt's fresh snapshot (only ids actually
    * indexed count), so a CAS loss re-derives — the count can never
    * commit against a version this writer didn't read. Idempotent by
    * construction: re-forgetting absent ids deletes nothing and
    * decrements nothing, so callers need no replay ledger. Index files
    * are untouched (positions only) — compaction purges the vectors on
    * the normal maintenance cadence. */
  def forget(s: SparkSession, idx: String, ids: Seq[Long],
      extraKv: Map[String, String] = Map.empty): Unit = {
    if (ids.isEmpty) {
      if (extraKv.nonEmpty) TxLog.setProperties(tableRoot(idx), extraKv)
      return
    }
    // small compliance batches keep the literal-predicate path (the In
    // list is stats-prunable); anything larger goes distributed — no
    // driver-held bound, no million-element In to plan
    if (ids.size <= 10000)
      forgetWith(s, idx, extraKv,
        victims = fn => TxLog.deleteMoR(s, tableRoot(idx),
          col("doc_id").isInCollection(ids), kvFn = fn),
        present = _.filter(col("doc_id").isInCollection(ids)))
    else {
      import s.implicits._
      forget(s, idx, ids.toDF("doc_id"), extraKv)
    }
  }

  /** [[forget]] with the ids held in a DATAFRAME (one `doc_id` column) —
    * the feed-sized path: the id set never visits the driver; the delete
    * is [[TxLog.deleteMoRKeys]]'s semi-join, the `kv:n` decrement counts
    * present ids by the same join. */
  def forget(s: SparkSession, idx: String, ids: DataFrame,
      extraKv: Map[String, String]): Unit = {
    val keys = ids.select(col("doc_id")).distinct().cache()
    try {
      if (keys.isEmpty) {
        if (extraKv.nonEmpty) TxLog.setProperties(tableRoot(idx), extraKv)
      } else forgetWith(s, idx, extraKv,
        victims = fn => TxLog.deleteMoRKeys(s, tableRoot(idx), "doc_id",
          keys, kvFn = fn),
        present = _.join(keys, Seq("doc_id"), "left_semi"))
    } finally keys.unpersist()
  }

  private def forgetWith(s: SparkSession, idx: String,
      extraKv: Map[String, String],
      victims: (TxLog.Snapshot => Map[String, String]) => Long,
      present: DataFrame => DataFrame): Unit = {
    victims { snap =>
      val prev = TxLog.kvOf(snap.notes).getOrElse("n",
        throw new IllegalStateException(s"$idx: committed table has no kv:n"))
        .toLong
      val n = present(bandsAt(s, idx, snap.version))
        .select("doc_id").distinct().count()
      Map("n" -> (prev - n).toString) ++ extraKv
    }
    ()
  }

  /** Follow a corpus table's ROW-LEVEL change feed: everything the
    * corpus inserted/deleted since the last sync (appends, MoR deletes,
    * MoR updates — which arrive as delete(pre) + insert(post) of the
    * same doc_id) folds into the index, and `kv:sync_v` advances to the
    * corpus version in the SAME commit as the last fold step. Deletes
    * apply FIRST so an updated document's re-insert appends disjoint.
    * Crash safety: forget is idempotent and sync_v only advances with
    * the final step, so a half-applied cycle simply re-runs. MAINTENANCE
    * in the corpus range is free: compact / OPTIMIZE commits carry
    * `cdc_noop` and contribute nothing to the feed (a nightly OPTIMIZE
    * never forces a rebuild). COW DML attributes exactly through
    * commit-time change files when the corpus sets `change_feed=true`,
    * and coarsely (rewrite churn folds as forget+re-append of identical
    * docs — correct, heavier) otherwise. Only pre-attribution history
    * still needs [[buildFrom]]. Returns the corpus version synced to. */
  def sync(s: SparkSession, idx: String, corpusRoot: String): Long = {
    val root = tableRoot(idx)
    val snap = TxLog.snapshot(root).getOrElse(
      throw new IllegalStateException(
        s"SigIndex.sync($idx): no committed index — buildFrom first"))
    val from = TxLog.kvOf(snap.notes).getOrElse("sync_v",
      throw new IllegalStateException(
        s"SigIndex.sync($idx): no kv:sync_v — index was not built " +
          "from a corpus table (use buildFrom)")).toLong
    val to = TxLog.currentVersion(corpusRoot)
    if (to <= from) return from
    foldFeed(s, idx, TxLog.readChanges(s, corpusRoot, from, to), to)
    to
  }

  /** [[sync]] as a CONTINUOUSLY RUNNING Structured Streaming query: the
    * corpus table becomes a stream SOURCE
    * ([[graft.streaming.TxLogFeedProvider]] — offsets are manifest
    * versions) and every micro-batch folds its change rows into the
    * index with [[sync]]'s exact netting. Exactly-once end to end: each
    * fold advances `kv:sync_v` atomically with its last commit, and
    * [[foldFeed]] no-ops any batch at-or-under the committed high water
    * — so foreachBatch's at-least-once replay after a crash re-delivers
    * a range the index already absorbed and nothing moves. The default
    * AvailableNow trigger drains the backlog and stops (the d17 shape);
    * a ProcessingTime trigger makes it a resident follower. */
  def syncStream(s: SparkSession, idx: String, corpusRoot: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val snap = TxLog.snapshot(tableRoot(idx)).getOrElse(
      throw new IllegalStateException(
        s"SigIndex.syncStream($idx): no committed index — buildFrom first"))
    val from = TxLog.kvOf(snap.notes).getOrElse("sync_v",
      throw new IllegalStateException(
        s"SigIndex.syncStream($idx): no kv:sync_v (use buildFrom)")).toLong
    s.readStream.format("graft.streaming.TxLogFeedProvider")
      .option("root", corpusRoot).option("mode", "changes")
      .option("startingVersion", from.toString).load()
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val to = batch.agg(max(col("_commit_version"))).head() match {
            case r if r.isNullAt(0) => -1L // empty batch: nothing to fold
            case r => r.getLong(0)
          }
          if (to >= 0) foldFeed(batch.sparkSession, idx, batch.toDF(), to)
          ()
      }.option("checkpointLocation", checkpoint)
      .trigger(trigger).start()
  }

  /** Fold one change-feed range `(…, to]` into the index — [[sync]]'s
    * core, shared with [[syncStream]]'s micro-batches. The feed is an
    * EVENT LOG, not a net diff: a row inserted and later deleted inside
    * the range must net out, an updated row folds as its LAST post-image
    * (latest event wins; insert outranks delete at the SAME version — an
    * update emits both in one commit and the insert is the survivor).
    * IDEMPOTENT per range: a `to` at-or-under the committed `kv:sync_v`
    * returns without touching anything (the replay guard — without it, a
    * redelivered batch's forget would delete docs whose tagged re-append
    * then no-ops), and a crash between the forget and the append re-runs
    * cleanly (forget re-deletes nothing, the tagged append still lands). */
  private def foldFeed(s: SparkSession, idx: String, feed0: DataFrame,
      to: Long): Unit = {
    val committed = TxLog.snapshot(tableRoot(idx))
      .flatMap(sn => TxLog.kvOf(sn.notes).get("sync_v")).map(_.toLong)
    if (committed.exists(to <= _)) return
    val feed = feed0.cache()
    try {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        .orderBy(col("_commit_version").desc,
          when(col("_change_type") === "insert", 0).otherwise(1))
      val lastIns = feed.withColumn("_r", row_number().over(w))
        .filter(col("_r") === 1 && col("_change_type") === "insert")
        .drop("_r", "_change_type", "_commit_version")
      // forget EVERY touched doc_id (absent ones are no-ops and don't
      // decrement — the present-check), and re-state the net survivors:
      // updated docs re-enter under their post-image shingles,
      // netted-out docs never re-enter. The touched set stays a
      // DATAFRAME end to end — a rebuild-sized feed never lands on the
      // driver. With survivors the fold is ONE atomic commit
      // (TxLog.replaceKeysMoR): no reader-visible window where touched
      // docs are missing, no replay-tag ledger (sync_v advances with
      // the fold itself), one manifest publish instead of two.
      val touched = feed.select("doc_id").distinct()
      if (lastIns.isEmpty)
        forget(s, idx, touched, extraKv = Map("sync_v" -> to.toString))
      else {
        val b = lastIns.cache()
        val sh = Dedup.shingles(b).cache()
        val keys = touched.cache()
        try {
          val rows = indexRows(sh,
            Dedup.signatureBands(Dedup.minhashSignature(sh)), parts = 8)
          TxLog.replaceKeysMoR(s, tableRoot(idx), "doc_id", keys, rows,
            kvFn = snap => {
              // count maintenance per CAS attempt, against the snapshot
              // the commit publishes over: n' = n - touched∩indexed +
              // survivors (survivor ids were all vectored out in this
              // same commit, so the re-adds are disjoint by construction).
              // Both scalars ride ONE job (the append-gate crossJoin
              // shape): two sequential count actions here were pure
              // fixed latency on every CAS attempt.
              val prev = TxLog.kvOf(snap.notes).getOrElse("n",
                throw new IllegalStateException(
                  s"$idx: committed table has no kv:n")).toLong
              val cnts = bandsAt(s, idx, snap.version)
                .join(keys, Seq("doc_id"), "left_semi")
                .agg(count_distinct(col("doc_id")).as("present"))
                .crossJoin(b.agg(count(lit(1)).as("nb"))).collect()(0)
              Map("n" -> (prev - cnts.getAs[Long]("present") +
                cnts.getAs[Long]("nb")).toString,
                "sync_v" -> to.toString)
            })
          ()
        } finally { keys.unpersist(); sh.unpersist(); b.unpersist() }
      }
    } finally feed.unpersist()
  }

  /** Fold a new batch into the index as ONE tagged txlog append — rows
    * and the advanced `kv:n` count in the same atomic manifest.
    * Precondition (asserted): the batch's doc_ids are disjoint from the
    * indexed corpus — re-appending an indexed document would double its
    * buckets and postings. Concurrent appenders serialize through the
    * manifest CAS (the loser re-reads and retries); a crashed append
    * leaves nothing visible. Replay safety: a caller that may retry the
    * SAME logical batch should pass a stable `tag` — a tag already in
    * the note ledger makes the append a no-op. */
  def append(newDocs: DataFrame, idx: String, tag: String = "",
      extraKv: Map[String, String] = Map.empty): Unit = {
    val s = newDocs.sparkSession
    val root = tableRoot(idx)
    // no tag → no ledger entry: a minted per-call UUID would ride in
    // every subsequent manifest's note section forever (O(appends)
    // metadata growth) while protecting nothing — the tag is never seen
    // again. Callers that may REPLAY a batch pass a stable tag.
    val t = tag
    val b = newDocs.cache()
    val sh = Dedup.shingles(b).cache()
    try {
      TxLog.withRetry(root) {
        case None => throw new IllegalStateException(
          s"SigIndex.append($idx): no committed index — build first")
        case Some(snap) if t.nonEmpty && snap.notes(t) =>
          Some(snap.version) // replay: done
        case Some(snap) =>
          val prev = TxLog.kvOf(snap.notes).getOrElse("n",
            throw new IllegalStateException(s"$idx: committed table has no kv:n"))
            .toLong
          // the batch STAGES concurrently with the gate (the ingestBatch
          // overlap): staged files are invisible until the publish
          // references them, so a gate refusal or a CAS loss leaves only
          // an unreferenced vacuumable dir — and the attempt pays
          // max(stage, gate), not their sum. A gate refusal below
          // abandons the stage — sound (the orphan dir is unreferenced,
          // vacuum reclaims it); its errors are logged, not swallowed
          val rows = indexRows(sh,
            Dedup.signatureBands(Dedup.minhashSignature(sh)), parts = 8)
          val staged = TxLog.forked(
            s"graft.SigIndex: abandoned append stage at $root failed")(
            TxLog.stageAppend(s, root, rows, snap))
          // disjointness + batch count in ONE action: the overlap side is
          // a map-only semi-join of the pinned band scan against the
          // broadcast batch ids (never corpus × batch), cross-joined with
          // the 1-row batch count — two scalars, one job tree. Runs PER
          // CAS attempt: a retry re-checks against the fresh snapshot,
          // so neither the count nor the disjointness can go stale.
          val ovlAgg = bandsAt(s, idx, snap.version)
            .join(broadcast(b.select("doc_id")), Seq("doc_id"), "left_semi")
            .agg(count_distinct(col("doc_id")).as("ovl"))
          val cnts = ovlAgg.crossJoin(b.agg(count(lit(1)).as("n"))).collect()(0)
          require(cnts.getAs[Long]("ovl") == 0L,
            s"append overlaps ${cnts.getAs[Long]("ovl")} indexed doc_ids")
          Some(TxLog.commitAppendKv(s, root, rows, snap, t,
            Map("n" -> (prev + cnts.getAs[Long]("n")).toString) ++ extraKv,
            preStaged = Some(staged())))
      }
      ()
    } finally { sh.unpersist(); b.unpersist() }
  }

  /** Near-dup pairs (old_id, new_id, jaccard ≥ [[Dedup.Tau]]) between the
    * persisted corpus and a new batch, without touching non-candidate
    * corpus documents. EAGER in its candidate job (one map-only scan of
    * the pinned band table, collected); the returned frame is the lazy
    * verification plan. The result leans on the cached batch shingles,
    * which live until the session's cache is cleared — the harness's
    * per-query clearCache convention. Long-lived callers that
    * materialize the result themselves should use [[probeWithHandles]]
    * and unpersist (streaming ingest does). */
  def probe(s: SparkSession, idx: String, newDocs: DataFrame): DataFrame =
    probeWithHandles(s, idx, newDocs)._1

  /** [[probe]] plus the cached frames backing the (lazy) result — the
    * caller unpersists them AFTER materializing. */
  def probeWithHandles(s: SparkSession, idx: String,
      newDocs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val nsh = Dedup.shingles(newDocs).cache()
    val v = TxLog.currentVersion(tableRoot(idx))
    val (cand, _) = candidatesPinned(s, idx, v,
      Dedup.signatureBands(Dedup.minhashSignature(nsh)), None)
    (verifyPairs(s, idx, v, nsh, cand), Seq(nsh))
  }

  /** The probe's output schema — shared by the verification plan's
    * empty-candidate short-circuit and the bootstrap batch's schema-only
    * pairs partition, so every `pairsSink` partition unions cleanly. */
  /** Shingle-row budget for verifyPairs' broadcast NEW side (each row is
    * one word-5-gram STRING, ~50-100 B serialized — the default ~1M rows
    * keeps the broadcast under ~100 MB). Past it the verification takes
    * the shuffled exactJaccard plan instead: strictly more exchanges,
    * but no broadcast/driver memory cliff on a batch of very long
    * documents with many band collisions. System-property override
    * (`graft.sigindex.broadcastShingleRows`) so the fallback plan is
    * testable without staging a million shingles. */
  private[operators] def BroadcastShingleRows: Long =
    sys.props.get("graft.sigindex.broadcastShingleRows").map(_.toLong)
      .getOrElse(1L << 20)

  private val PairsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("old_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("new_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("jaccard",
      org.apache.spark.sql.types.DoubleType)))

  private def emptyPairs(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      PairsSchema)

  /** Candidate (old_id, new_id) pairs of the pinned snapshot vs the
    * batch's LSH bands — ONE job: a map-only scan of the band table
    * joined against the broadcast batch bands, deduped, COLLECTED.
    *
    * Scale shape: the batch side is broadcast-sized by contract (one
    * crawl micro-batch vs the whole corpus), so the scan has zero
    * index-side shuffle, and the collected candidate set is bounded by
    * the batch's band collisions — the same bound the previous
    * broadcast(cand) form placed on driver memory, now paid once
    * instead of per-downstream-consumer. Without the broadcast hint
    * Spark shuffle-joins both sides (batch stats are unknown behind the
    * aggregation), re-shuffling the entire persisted index per
    * micro-batch — the asymptotic killer at 100 TB.
    *
    * `batchIds`, when given, fuses the ingest DISJOINTNESS gate into the
    * same scan as an `observe` metric (band rows whose doc_id is already
    * in the batch) — the gate that used to cost a second full band scan
    * per micro-batch rides this one for free. CollectMetrics is an
    * optimizer barrier, so the candidate join's (band, bh) filter cannot
    * be pushed below the count. Returns (pairs, overlapping band rows).
    *
    * The join keys on ONE long, `xxhash64(band, bh)`: a one-long-key
    * broadcast builds as a LongHashedRelation sized to its rows, where
    * the (band, bh) pair built a page-backed UnsafeHashedRelation — a
    * whole Tungsten page per executor per probe, outside the memory
    * manager's accounting (TxLog's `DvKeyCol` doc has the mechanism). A
    * hash collision can only add a candidate pair, and [[verifyPairs]]
    * checks every candidate exactly.
    */
  private def candidatesPinned(s: SparkSession, idx: String, version: Long,
      nbands: DataFrame, batchIds: Option[DataFrame])
      : (Array[(Long, Long)], Long) = {
    def bandKey = xxhash64(col("band"), col("bh")).as("bk")
    val nb = nbands.select(bandKey, col("doc_id").as("new_id"))
    // AQE EMPTY-RELATION GUARD (observation-hang hazard): an EMPTY
    // broadcast side — an empty replayed batch, or every doc under 3
    // words so the batch has zero bands — lets AQE's empty-relation
    // propagation collapse the candidate join and PRUNE the observed
    // scan subtree; the Observation below would then never complete and
    // its await would hang the ingest forever (CollectMetrics blocks
    // filter pushdown, NOT runtime empty propagation). Empty bands ⟹
    // no candidates by definition; the disjointness gate falls back to
    // its standalone map-only semi-join job for this degenerate shape
    // only. The isEmpty probe is a limit-1 job on the caller's CACHED
    // bands frame — pennies, and only paid on the gated (ingest) path.
    if (batchIds.isDefined && nb.isEmpty) {
      val ovl = batchIds.fold(0L)(ids =>
        bandsAt(s, idx, version)
          .join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"),
            "left_semi").count())
      return (Array.empty, ovl)
    }
    val scan0 = bandsAt(s, idx, version)
    val obs = batchIds.map(_ => org.apache.spark.sql.Observation())
    val scan = (batchIds, obs) match {
      case (Some(ids), Some(ob)) =>
        scan0.join(broadcast(ids.select(col("doc_id"))
            .withColumn("ovl", lit(1))), Seq("doc_id"), "left_outer")
          .observe(ob, sum(coalesce(col("ovl"), lit(0))).as("ovl_rows"))
          .drop("ovl")
      case _ => scan0
    }
    val cand = scan.select(bandKey, col("doc_id").as("old_id"))
      .join(broadcast(nb), Seq("bk"))
      .select("old_id", "new_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ovl = obs.fold(0L)(_.get("ovl_rows") match {
      case null => 0L
      case n: Number => n.longValue()
    })
    (cand, ovl)
  }

  /** The probe's verification plan: exact shingle Jaccard for the
    * collected candidate pairs, against the PINNED postings.
    *
    * The candidate ids are a local relation (no job to build their
    * broadcast), the postings scan is pruned twice — an `IN` literal
    * when the candidate set is small enough for row-group skipping, plus
    * the broadcast left-semi join that carries the general case — and
    * the verification joins per-document shingle SETS on the long ids:
    * the candidate old documents' sets (one grouped aggregation) fan out
    * to their pairs and meet the batch's candidate sets (broadcast,
    * batch-bounded by contract), and |old ∩ new| is
    * `size(array_intersect(...))`. Every broadcast keys on one long id,
    * so each builds as a LongHashedRelation sized to its rows; the
    * earlier (new_id, g) marking join and its separate |new| sizes
    * broadcast built a page-backed relation per probe and one broadcast
    * more (TxLog's `DvKeyCol` doc has the mechanism). The shuffled shape
    * (union + shuffled self-join + three shuffled size joins,
    * Dedup.exactJaccard) paid ~6 exchanges on candidate-bounded data; at
    * micro-batch scale the fixed per-stage latency dominated the whole
    * probe (the d15 drift) — it stays only as the above-budget tier. */
  private def verifyPairs(s: SparkSession, idx: String, version: Long,
      nsh: DataFrame, cand: Array[(Long, Long)]): DataFrame = {
    if (cand.isEmpty) return emptyPairs(s)
    import s.implicits._
    val pairsDf = cand.toSeq.toDF("doc_id", "new_id") // doc_id = old side
    val oldIds = cand.map(_._1).distinct.toSeq
    val pruned0 = postingsAt(s, idx, version)
    val pruned = if (oldIds.size <= 1000)
      pruned0.where(col("doc_id").isin(oldIds: _*)) else pruned0
    val oldPost = pruned.join(broadcast(oldIds.toDF("doc_id")),
      Seq("doc_id"), "left_semi")
    // the broadcast NEW side carries only CANDIDATE new docs' shingles —
    // the driver already holds the candidate ids, so the same
    // isin/semi-join pruning the postings side gets applies here too:
    // the broadcast is candidate-bounded, not batch-bounded (a batch of
    // long documents would otherwise broadcast every shingle of every
    // doc, candidates or not — a memory cliff the old shuffled plan
    // didn't have)
    val newIds = cand.map(_._2).distinct.toSeq
    val nshCand = (if (newIds.size <= 1000)
      nsh.where(col("doc_id").isin(newIds: _*)) else nsh)
      .join(broadcast(newIds.toDF("doc_id")), Seq("doc_id"), "left_semi")
    // SIZE GUARD on the broadcast side: the bound so far is candidate
    // DOC count, not shingle VOLUME — a batch of very long documents
    // with many band collisions could push the newSh broadcast past
    // driver/executor memory where the old shuffled plan degraded
    // gracefully. Two tiers, so the common micro-batch pays NOTHING:
    // first a FREE upper bound — the whole batch-shingle frame's plan
    // statistics (for the ingest path's cached, already-materialized
    // shingles this is the exact in-memory bytes; for a cold frame, a
    // conservative estimate) — and only when that says the cliff is
    // plausible, ONE exact candidate-shingle count (a job the huge batch
    // amortizes trivially). Past the budget the verification falls back
    // to the shuffled exactJaccard plan — more exchanges, no memory
    // cliff. Same answers either way (SigIndexSpec pins it).
    val budget = BroadcastShingleRows
    val ubRows = // in-memory bytes / ~64 B per (long, short-string) row
      nsh.queryExecution.optimizedPlan.stats.sizeInBytes / 64
    val tooBig = ubRows > budget && {
      val exact = nshCand.agg(count(lit(1))).head().getLong(0)
      exact > budget
    }
    if (tooBig) {
      val allSh = oldPost.select(col("doc_id"), col("g"))
        .unionByName(nshCand.select(col("doc_id"), col("g")))
      return Dedup.exactJaccard(allSh,
          pairsDf.select(col("doc_id").as("a_id"), col("new_id").as("b_id")))
        .filter(col("jac") >= Dedup.Tau)
        .select(col("a_id").as("old_id"), col("b_id").as("new_id"),
          round(col("jac"), 6).cast("double").as("jaccard"))
    }
    // shingles are distinct per document (Curation.grams), so each
    // list is its set: size = |sh(doc)|, and array_intersect's size is
    // |sh(old) ∩ sh(new)| exactly
    val newSets = nshCand.groupBy("doc_id").agg(collect_list(col("g")).as("nsh"))
      .select(col("doc_id").as("new_id"), col("nsh"))
    oldPost.groupBy("doc_id").agg(collect_list(col("g")).as("osh"))
      .join(broadcast(pairsDf), Seq("doc_id"))
      .join(broadcast(newSets), Seq("new_id"))
      .withColumn("c", size(array_intersect(col("osh"), col("nsh"))))
      .withColumn("jac", col("c").cast("double") /
        (size(col("osh")) + size(col("nsh")) - col("c")))
      .filter(col("jac") >= Dedup.Tau)
      .select(col("doc_id").as("old_id"), col("new_id"),
        round(col("jac"), 6).cast("double").as("jaccard"))
  }

  /** One streaming-ingest micro-batch, IDEMPOTENT under at-least-once
    * replay (foreachBatch re-delivers a batch whenever the checkpoint
    * commit didn't land). Per-batch Spark actions: the candidate scan
    * (with the disjointness gate fused in as an observe metric — one
    * pass over the band table serves both), the pairs verification
    * write, and the single txlog append; the data stage and the batch
    * count run CONCURRENTLY with the candidate scan (independent job
    * trees over the same pinned snapshot — the batch pays max, not sum,
    * of their latencies), the commit strictly after all. Every
    * crash/abort point replays cleanly:
    *
    *   1. a batch at or under the index's `hw:batch:` high-water was
    *      FULLY processed by a previous attempt — skip everything (its
    *      pairs partition is on disk: the pairs write precedes the
    *      commit that advances the high-water);
    *   2. pairs land in the per-batch partition dir
    *      `pairsSink/batch_id=<id>` with mode OVERWRITE — a replayed
    *      pre-commit attempt rewrites the same content instead of
    *      duplicating rows (the probe still sees the index WITHOUT this
    *      batch: it pins the snapshot version read in step 1); a batch
    *      REJECTED for overlap deletes its pairs partition before
    *      throwing, so the fatal abort leaves nothing behind;
    *   3. the append advances the high-water in the SAME manifest as the
    *      batch's rows and count — there is no crash point where data
    *      and ledger disagree, and a crash mid-stage leaves only an
    *      unreferenced (invisible) data directory;
    *   4. a bootstrap that crashed before its replaceTable published
    *      leaves NO committed version — the replay simply bootstraps
    *      again (same publish, same content).
    */
  /** Per-phase wall-time telemetry for [[ingestBatch]] — the sig_ingest
    * drift adjudication wants a MEASUREMENT of which phase got slow, not
    * another inference. Phases OVERLAP by design (the disjointness
    * count, the stage and the probe run concurrently), so phase sums
    * legitimately exceed the batch wall: each series answers "which
    * phase moved", never "where did the wall go". Negligible overhead
    * (a nanoTime pair and a bounded-buffer add per phase per batch);
    * StreamBench drains it after the ingest run via [[phaseP50s]].
    * Process-global and single-consumer by design (a diagnostic, not an
    * API): buffers cap at the newest [[PhaseCap]] samples so a resident
    * ingest query never grows it unboundedly, and concurrent ingests in
    * one JVM mix their samples — run the bench alone, as its script
    * does. */
  private val PhaseCap = 4096
  private val phaseTimes =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.ArrayDeque[Double]]()

  private def timedPhase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      val q = phaseTimes.computeIfAbsent(name,
        _ => new java.util.ArrayDeque[Double]())
      q.synchronized {
        q.addLast((System.nanoTime() - t0) / 1e9)
        while (q.size > PhaseCap) q.pollFirst()
      }
    }
  }

  /** Drain the phase telemetry: name → (p50 seconds, samples). */
  def phaseP50s(): Map[String, (Double, Int)] = {
    import scala.jdk.CollectionConverters._
    val out = phaseTimes.asScala.toMap.map { case (k, q) =>
      val xs = q.synchronized(q.asScala.toSeq).sorted
      k -> (if (xs.isEmpty) 0.0 else xs(xs.size / 2), xs.size)
    }
    phaseTimes.clear()
    out
  }

  private[operators] def ingestBatch(s: SparkSession, idx: String,
      pairsSink: String, batch: DataFrame, batchId: Long): Unit = {
    val root = tableRoot(idx)
    if (TxLog.highWaterOf(root, "batch").exists(_ >= batchId)) return // replayed: done
    val b = batch.select("doc_id", "text").cache()
    try {
      val snapOpt = timedPhase("snapshot_pin")(TxLog.snapshot(root))
      if (snapOpt.isEmpty) {
        // pairs partition FIRST (the replay invariant: a committed
        // high-water implies its pairs are on disk — so nothing may
        // publish before the pairs write, including the bootstrap). The
        // bootstrap has no corpus to pair against, so the schema row is
        // constructed directly instead of probing the not-yet-built index.
        emptyPairs(s).write.mode("overwrite")
          .parquet(s"$pairsSink/batch_id=$batchId")
        build(b, idx, hwBatchId = Some(batchId))
      } else {
        val snap = snapOpt.get
        val sh = Dedup.shingles(b).cache()
        // the batch's banded signature, computed ONCE per batch and shared
        // by the probe (candidate join side) and the index append (kind=b
        // rows) — the minhash aggregation is the batch's priciest kernel,
        // and without the cache each consumer re-runs it
        val nb = Dedup.signatureBands(Dedup.minhashSignature(sh)).cache()
        try {
          // OVERLAPPED job trees — the data STAGE (invisible until a
          // manifest references it; an abandoned stage is a vacuumable
          // CAS-loser dir) and the batch count run CONCURRENTLY with the
          // candidate scan: none depends on another's result, all pin
          // the same pre-batch snapshot, and the scheduler interleaves
          // the trees instead of paying their latencies in series. The
          // disjointness gate rides the candidate scan itself as an
          // observe metric (candidatesPinned) — the second full band
          // scan the gate used to cost is gone.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          val rows = indexRows(sh, nb, parts = 8)
          val staged = TxLog.forked(
            s"graft.SigIndex: abandoned ingest stage at $root failed") {
            timedPhase("stage") {
              TxLog.stageAppend(s, tableRoot(idx), rows, snap)
            }
          }
          val nF = Future(b.count())
          val (cand, ovlRows) = timedPhase("probe_candidates") {
            candidatesPinned(s, idx, snap.version, nb,
              Some(b.select("doc_id")))
          }
          if (ovlRows != 0L) {
            // failure path (can afford a second job): an exact
            // overlapping-doc count for the message, and clear any pairs
            // partition a previous crashed attempt of this batch left —
            // the gate now fires BEFORE this attempt's pairs write, so
            // only a replay can have one on disk. The concurrently
            // staged data dir stays behind unreferenced (invisible;
            // TxLog.vacuum collects it), same as any crashed append.
            val ovlDocs = bandsAt(s, idx, snap.version)
              .join(broadcast(b.select("doc_id")), Seq("doc_id"), "left_semi")
              .agg(count_distinct(col("doc_id"))).head().getLong(0)
            val dir = new org.apache.hadoop.fs.Path(s"$pairsSink/batch_id=$batchId")
            scala.util.Try(
              dir.getFileSystem(s.sparkContext.hadoopConfiguration)
                .delete(dir, true))
            throw new IllegalArgumentException(
              s"ingestBatch($idx): batch $batchId overlaps " +
                s"$ovlDocs indexed doc_ids")
          }
          timedPhase("probe_pairs") {
            verifyPairs(s, idx, snap.version, sh, cand)
              .write.mode("overwrite").parquet(s"$pairsSink/batch_id=$batchId")
          }
          // ONE atomic append: rows + count + high-water. The advanced
          // count derives from the snapshot the commit is CAS'd against
          // (kvFn runs per retry attempt): a concurrent SigIndex.append
          // interleaving with the stream can no longer make this commit
          // publish a count computed from a version it didn't read —
          // the stale-kv hazard commitAppendKv documents.
          val batchN = Await.result(nF, Duration.Inf)
          timedPhase("publish_cas") {
            TxLog.appendOnceMonotoneKv(s, root, "batch", batchId, rows,
              kvFn = fresh => Map("n" -> (TxLog.kvOf(fresh.getOrElse(
                throw new IllegalStateException(
                  s"ingestBatch($idx): index vanished mid-commit")).notes)("n")
                .toLong + batchN).toString),
              preStaged = Some(staged()))
          }
          ()
        } finally { nb.unpersist(); sh.unpersist() }
      }
    } finally b.unpersist()
  }

  /** Streaming ingest near-dedup: every micro-batch is probed against the
    * persisted index (emitting its near-dup pairs vs the corpus-so-far)
    * and then folded in — the crawl-ingest loop as a Structured
    * Streaming sink. The first batch bootstraps the index (nothing to
    * pair with; an empty probe creates the pairs sink with the right
    * schema). Effectively-once under foreachBatch's at-least-once
    * contract via [[ingestBatch]]'s high-water replay ledger + per-batch
    * pairs partitions; the specs pin both the single-pass semantics
    * (emitted pairs ≡ the batch-at-a-time probes, final index ≡ indexing
    * everything at once) and replay idempotence. */
  def streamingIngest(stream: DataFrame, idx: String, pairsSink: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.sparkSession, idx, pairsSink, batch, batchId)
    }.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
  }

  // D15: the incremental probe under the differential gate. The corpus
  // split is modular (doc_id % 5: 80% indexed "corpus", 20% "new batch")
  // so the same split interpolates into the oracle at any scale factor.
  // The oracle is the EXACT cross-split Jaccard pair set — the d3 recall
  // argument (banding sized for recall 1.0 at the observed similarities)
  // certifies the banded probe loses nothing.
  val defs: Seq[QueryDef] = Seq(
    QueryDef("d15_incremental_neardup",
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |             FROM ws WHERE len(w) >= 3)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT x.doc_id AS old_id, y.doc_id AS new_id, count(*) AS c
        |          FROM sh x JOIN sh y ON x.g = y.g
        |          WHERE x.doc_id % 5 <> 0 AND y.doc_id % 5 = 0
        |          GROUP BY 1, 2)
        |SELECT old_id, new_id,
        |       CAST(round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS DOUBLE) AS jaccard
        |FROM inter JOIN sz sa ON old_id = sa.doc_id
        |           JOIN sz sb ON new_id = sb.doc_id
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= ${Dedup.Tau}
        |ORDER BY old_id, new_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 5 =!= 0)
      val idx = pathFor(dir)
      buildLock.synchronized { if (!isFresh(old, idx)) build(old, idx) }
      probe(s, idx, docs.filter(col("doc_id") % 5 === 0))
        // fence: keep the sort sampler off the verification plan's
        // broadcast-join tail (Par.sortFence scaladoc)
        .transform(Par.sortFence(_, col("old_id"), col("new_id")))
        .orderBy("old_id", "new_id")
    },

    // D17: the index FOLLOWS the corpus's row-level change feed — the
    // full composition: a corpus transaction-log table takes an append,
    // a merge-on-read DELETE, a merge-on-read UPDATE, and then a
    // COMPACT (the nightly-OPTIMIZE shape: a full rewrite that purges
    // the vectors — `cdc_noop` keeps it INVISIBLE to the feed, so sync
    // no longer needs a rebuild after maintenance); one SigIndex.sync
    // folds the feed into the persisted index (net per doc_id: forget
    // touched ids, re-append net survivors — updated documents re-enter
    // with their POST-image shingles); the probe then runs against the
    // synced index and the oracle computes the exact Jaccard pair set
    // from the RESTATED final corpus — so the hash match certifies
    // deletes dropped out, updates re-indexed under the edited text,
    // appends landed, and maintenance contributed NOTHING, all through
    // the feed path.
    QueryDef("d17_index_follows_feed", FollowOracleSql) { (s, dir) =>
      runFollowLifecycle(s, dir, "sigsync",
        (sp, idx, corpus) => { sync(sp, idx, corpus); () })
    },

    // D18: the SAME certificate with the sync as a CONTINUOUSLY RUNNING
    // Structured Streaming query — the corpus is the stream source
    // (offsets = manifest versions, graft.streaming.TxLogFeedProvider)
    // and syncStream's micro-batches fold the feed with exactly-once
    // replay guards. One oracle serves both: stream ≡ batch ≡ rebuild.
    QueryDef("d18_index_follows_stream", FollowOracleSql) { (s, dir) =>
      runFollowLifecycle(s, dir, "sigstream",
        (sp, idx, corpus) => syncStream(sp, idx, corpus,
          TxLog.freshRoot(dir, "sigstream-ckpt")).awaitTermination())
    }
  )

  /** The d17/d18 oracle: the exact Jaccard pair set recomputed from the
    * RESTATED final corpus (append + MoR delete + MoR update + compact
    * applied) against the held-out probe third. */
  private def FollowOracleSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 11 = 1 THEN text || ' EDITED'
      |              ELSE text END AS text
      |  FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 7 <> 0),
      |probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
      |allr AS (SELECT * FROM corpus UNION ALL SELECT * FROM probe),
      |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM allr),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |             FROM ws WHERE len(w) >= 3)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS old_id, y.doc_id AS new_id, count(*) AS c
      |          FROM sh x JOIN sh y ON x.g = y.g
      |          WHERE x.doc_id % 3 <> 2 AND y.doc_id % 3 = 2
      |          GROUP BY 1, 2)
      |SELECT old_id, new_id,
      |       CAST(round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS DOUBLE) AS jaccard
      |FROM inter JOIN sz sa ON old_id = sa.doc_id
      |           JOIN sz sb ON new_id = sb.doc_id
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= ${Dedup.Tau}
      |ORDER BY old_id, new_id""".stripMargin

  /** The shared d17/d18 lifecycle: corpus init → index build → append →
    * MoR delete → MoR update → compact → `syncVia` → probe. */
  private def runFollowLifecycle(s: SparkSession, dir: String, tag: String,
      syncVia: (SparkSession, String, String) => Unit): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val corpusRoot = TxLog.freshRoot(dir, s"$tag-corpus")
    val idx = s"${TxLog.freshRoot(dir, s"$tag-index")}"
    TxLog.init(s, corpusRoot,
      docs.filter(col("doc_id") % 3 === 0).repartition(4))
    val v1 = TxLog.currentVersion(corpusRoot)
    // the index build and the corpus DML chain are INDEPENDENT job
    // trees (guide §2.6): the build reads the PINNED v1 corpus (files
    // immutable; compact doesn't vacuum) and writes the INDEX root,
    // while append/delete/update/compact advance the CORPUS root — so
    // they overlap, and the lifecycle pays max, not sum, of the two
    // (~0.9 s at sf0.1). The final state is interleaving-independent:
    // the index reflects exactly v1 (kv:sync_v = 1) and sync folds
    // v2..v5 — the lifecycle's data-dependency graph, not its textual
    // order. A build failure surfaces at the pre-sync Await.
    val builtF = {
      import scala.concurrent.ExecutionContext.Implicits.global
      scala.concurrent.Future(buildFromVersion(s, corpusRoot, idx, v1))
    }
    TxLog.appendOnce(s, corpusRoot, "b1", docs.filter(col("doc_id") % 3 === 1))
    TxLog.deleteMoR(s, corpusRoot, col("doc_id") % 7 === 0)
    TxLog.updateMoR(s, corpusRoot, col("doc_id") % 11 === 1,
      Seq("text" -> concat(col("text"), lit(" EDITED"))))
    TxLog.compact(s, corpusRoot, targetFiles = 4)
    scala.concurrent.Await.result(builtF,
      scala.concurrent.duration.Duration.Inf)
    syncVia(s, idx, corpusRoot)
    probe(s, idx, docs.filter(col("doc_id") % 3 === 2))
      .transform(Par.sortFence(_, col("old_id"), col("new_id")))
      .orderBy("old_id", "new_id")
  }
}
