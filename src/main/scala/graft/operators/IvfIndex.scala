package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted ANN index — the build-once / probe-many split the reference's
  * index path teaches (stockify.cu:659-684: sort ONCE, then every probe is
  * a lower_bound; ditto the map index :711-727). The previous inline
  * sim3/sim6 rebuilt centroids and re-assigned the entire corpus per
  * query — fine in a fused benchmark plan, architecturally wrong at
  * 100 TB, where assignment alone is a full-corpus pass.
  *
  * BUILD (once per corpus) writes Parquet artifacts under an index dir.
  * The flat-IVF index — the only one with INCREMENTAL appends — is a
  * transaction-log table (`lists/` is a [[TxLog]] root; metadata rides
  * as `kv:` notes — see the IVF section comment below). The build-only
  * variants stay immutable derived artifacts:
  *   centroids/   constant-size coarse quantizer (k rows)   [IVF-PQ, ivfl]
  *   books/       residual PQ codebooks (M·K rows)                [IVF-PQ]
  *   codes/       (vec_id, codes) partitioned by list_id          [IVF-PQ]
  *   meta/        corpus row count + layout version — the staleness key
  * lists/ and codes/ are MULTI-ASSIGNED (Similarity.AssignR rows per
  * vector — the recall/space trade documented there); probes dedup
  * copies with a max-aggregate over the scored candidates.
  *
  * PROBE reads the k-row centroid table, picks the `nprobe` nearest
  * lists, and scans ONLY those list directories: the literal
  * `list_id IN (...)` filter on a partitionBy(list_id) layout becomes
  * directory-level partition pruning, so probe I/O ≈ nprobe/k of the
  * corpus — IvfIndexSpec pins this with scan metrics. Collecting the
  * nprobe probed ids to the driver is constant-size index metadata (the
  * moral equivalent of reading the sorted index's fence pointers), not a
  * data collect.
  *
  * The registered sim3/sim6 queries build lazily into
  * `target/graft-index/<kind>-<sf>` on first use and rebuild
  * only when the corpus row count changes — the testdata is regenerated
  * deterministically per scale factor, so count is a sufficient staleness
  * key here; a production index would carry a snapshot/version id.
  */
object IvfIndex {

  /** Root for the lazily-built per-scale-factor indexes (gitignored). */
  val DefaultRoot = s"${graft.Paths.work}/graft-index"

  private def pathFor(kind: String, sfDir: String): String =
    s"$DefaultRoot/$kind-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  // one build at a time per JVM: registered queries can be invoked
  // concurrently (parallel test suites) against the same index dir
  private val buildLock = new Object

  /** Physical-layout version stamped into every index meta. Bump when the
    * on-disk shape changes so pre-existing indexes (whose corpus count
    * still matches) rebuild instead of being probed with wrong
    * assumptions. v2 = R-way multi-assigned IVF lists/codes
    * (Similarity.AssignR); v3 = 64-bit PQ codes (M=16×4-dim subspaces);
    * v4 = single-relation txlog lists (list_id rides IN the files —
    * pre-v4 lists tables read through the per-partition union path and
    * must rebuild to probe at the pruned-single-relation cost). */
  private val LayoutVersion = 4L

  private def writeMetaCount(s: SparkSession, n: Long, idx: String): Unit =
    s.range(1).select(lit(n).as("n"), lit(LayoutVersion).as("v"))
      .write.mode("overwrite").parquet(s"$idx/meta")

  private def writeMeta(e: DataFrame, idx: String): Unit =
    writeMetaCount(e.sparkSession, e.count(), idx)

  private def isFresh(e: DataFrame, idx: String): Boolean =
    new java.io.File(s"$idx/meta").isDirectory && {
      try {
        val m = e.sparkSession.read.parquet(s"$idx/meta").collect()(0)
        m.getAs[Long]("n") == e.count() && m.getAs[Long]("v") == LayoutVersion
      } catch { case _: Exception => false } // unreadable/old-layout meta -> rebuild
    }

  // ------------------------------------------------------------------ IVF
  //
  // The flat-IVF index — the one with INCREMENTAL appends — is a txlog
  // table: `<idx>/lists` is a TxLog root partitioned by list_id, and the
  // index metadata rides as replaced `kv:` notes in the same atomic
  // manifest publish as the list rows they describe (`kv:n` staleness
  // count, `kv:layout` physical version, `kv:centroids` the immutable
  // coarse-quantizer artifact directory). One append = ONE commit
  // covering rows + count — the torn states the old claim/stage/janitor
  // protocol (IndexCommit) existed to manage can no longer occur: a
  // crashed append leaves only an unreferenced staged directory
  // (invisible to every reader, vacuumable), and rebuilds are CAS-atomic
  // replaceTable commits whose pinned prior versions keep concurrent
  // probes consistent. Centroid artifacts are content-addressed
  // (`centroids-<uuid>`) and immutable; the kv pointer flips atomically
  // with the lists rebuild, and superseded artifact dirs are retired
  // best-effort after the publish.

  private def listsRoot(idx: String): String = s"$idx/lists"

  /** Committed lists table properties: (kv map, snapshot). */
  private def listsSnap(idx: String): Option[(Map[String, String], TxLog.Snapshot)] =
    TxLog.snapshot(listsRoot(idx)).map(s => (TxLog.kvOf(s.notes), s))

  /** Indexed-vector count of the committed flat-IVF index. */
  def indexedCount(idx: String): Option[Long] =
    listsSnap(idx).flatMap(_._1.get("n")).map(_.toLong)

  /** The committed-latest list rows (spec/inspection surface; probes pin
    * a snapshot version internally). */
  def lists(s: SparkSession, idx: String): DataFrame =
    TxLog.read(s, listsRoot(idx))

  /** The committed centroid artifact of the flat-IVF index. */
  def centroids(s: SparkSession, idx: String): DataFrame = {
    val (kv, _) = listsSnap(idx).getOrElse(throw new IllegalStateException(
      s"IvfIndex.centroids($idx): no committed index"))
    s.read.parquet(s"$idx/${kv("centroids")}")
  }

  private def isFreshIvf(e: DataFrame, idx: String): Boolean =
    listsSnap(idx).exists { case (kv, _) =>
      kv.get("n").contains(e.count().toString) &&
        kv.get("layout").contains(LayoutVersion.toString)
    }

  /** Build the flat-IVF index: centroids + multi-assigned raw-vector
    * inverted lists (each vector in its AssignR nearest lists — see
    * Similarity.AssignR for the recall/space trade). The centroid
    * artifact is written FIRST (immutable, content-addressed); the lists
    * replaceTable then publishes rows + count + artifact pointer in one
    * CAS-atomic commit, so a reader never sees a half-rebuilt index. */
  def buildIvf(e: DataFrame, idx: String): Unit = {
    val s = e.sparkSession
    val csDir = s"centroids-${java.util.UUID.randomUUID().toString.take(12)}"
    val cs = Similarity.centroids(e).cache()
    cs.write.mode("overwrite").parquet(s"$idx/$csDir")
    val n = e.count()
    // co-locate each list before the hive stage: without this the writer
    // emits (#shuffle-partitions) tiny files PER list (1000+ files at
    // gate scale — metadata weight every subsequent probe pays). One
    // shuffle keyed on list_id → one file per list per write job; at
    // corpus scales where a single list outgrows a task, the salt in
    // TxLog.compact is the re-binning lever.
    TxLog.replaceTable(s, listsRoot(idx),
      Similarity.assignTo(e, cs, Similarity.AssignR)
        .repartition(col("list_id")),
      partCol = Some("list_id"),
      kv = Map("n" -> n.toString, "layout" -> LayoutVersion.toString,
        "centroids" -> csDir))
    cs.unpersist()
    retireStaleCentroids(idx, keep = csDir)
  }

  /** Staleness grace for unreferenced centroid artifacts — the same
    * discipline as [[TxLog.vacuum]]'s staged-data window: a CONCURRENT
    * cross-process rebuild writes its content-addressed centroids dir
    * BEFORE its replaceTable publish, so between those two steps the dir
    * is referenced by no manifest yet; an ungraced sweep racing that
    * window would delete it and leave the subsequently published version
    * pointing at a missing artifact (probes throw). Only dirs quiescent
    * longer than any plausible in-flight rebuild are swept. */
  private val CentroidGraceMs: Long = TxLog.DefaultVacuumGraceMs

  /** Best-effort removal of centroid artifact dirs no retained manifest
    * references — superseded rebuilds' quantizers. Conservative twice
    * over: keeps every dir a RETAINED lists version still points at
    * (time travel across a rebuild keeps working until pruneHistory),
    * and every dir younger than [[CentroidGraceMs]] (a concurrent
    * rebuild's not-yet-committed artifact — buildLock only serializes
    * THIS process's builders). */
  private def retireStaleCentroids(idx: String, keep: String): Unit = {
    val live: Set[String] = TxLog.history(listsRoot(idx)).flatMap(h =>
      TxLog.snapshot(listsRoot(idx), h.version)
        .flatMap(s => TxLog.kvOf(s.notes).get("centroids"))).toSet + keep
    val cutoff = System.currentTimeMillis() - CentroidGraceMs
    def newestMtime(f: java.io.File): Long =
      (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
        .map(newestMtime).toSeq).max
    Option(new java.io.File(idx).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("centroids-") &&
        !live(d.getName) && newestMtime(d) <= cutoff)
      .foreach(d => scala.util.Try {
        d.listFiles().foreach(_.delete()); d.delete()
      })
  }

  /** Probe the flat-IVF index at `idx`: top-`k` by cosine against the
    * one-row query frame `q` (column `qv`), scanning only the `nprobe`
    * nearest lists. Pins one snapshot: the centroid ranking and the list
    * scan see the same committed version even under concurrent appends. */
  def probeIvf(spark: SparkSession, idx: String, q: DataFrame, k: Int,
      nprobe: Int, excludeVecId: Long): DataFrame = {
    val (kv, snap) = listsSnap(idx).getOrElse(throw new IllegalStateException(
      s"probeIvf($idx): no committed index"))
    val cs = spark.read.parquet(s"$idx/${kv("centroids")}")
    val probed = cs.crossJoin(broadcast(q))
      .select(col("c_id"), Similarity.cosineFast(spark, "cv", "qv").as("csim"))
      .orderBy(col("csim").desc, col("c_id")).limit(nprobe)
      .select("c_id").collect().map(_.getLong(0))
    // manifest-level pruning: the entry list is filtered to the probed
    // lists BEFORE any relation is built — plan cost O(nprobe), not
    // O(#lists) unioned relations (the r10 3× probe regression, and a
    // driver planning blow-up at real partition counts); the snapshot
    // resolved once above serves both the kv read and this scan
    val probedVals = probed.map(_.toString).toSet
    val scored = TxLog.readPruned(spark, listsRoot(idx), snap)(
        t => t.head.exists(probedVals))
      .filter(col("vec_id") =!= excludeVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        Similarity.cosineFast(spark, "embedding", "qv").as("cosv"))
    Similarity.dedupTopK(scored, Seq.empty, "cosv", k)
      .select(col("vec_id"), round(col("cosv"), 6).cast("double").as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** Incremental maintenance: fold a batch of NEW vectors into an
    * existing flat-IVF index without a rebuild. The new vectors are
    * assigned with the SAVED centroids (one narrow pass over the batch,
    * never the corpus) and appended as new files — carried alongside the
    * prior entries by reference in the next manifest. The coarse
    * quantizer stays fixed: standard IVF maintenance, since centroids
    * drift slowly and probe quality degrades gracefully; `kv:n` advances
    * IN the same commit so probes accept the grown corpus atomically,
    * and a full rebuild remains the policy lever for when drift
    * accumulates (IvfIndexSpec pins append ≡ assigning the full corpus
    * against the original centroids, plus an unchanged recall floor).
    * Concurrent appenders serialize through the manifest CAS: the loser
    * re-runs its attempt — disjointness check, count derivation and all
    * — against the fresh snapshot, so no count is ever lost. */
  def appendIvf(newVecs: DataFrame, idx: String): Unit = {
    val s = newVecs.sparkSession
    val root = listsRoot(idx)
    // materialize the batch ONCE before any write: the lists append and
    // the committed count must see the same rows even if `newVecs` is
    // non-deterministic between jobs (the cache pins one evaluation)
    val nv = newVecs.cache()
    try {
      val nNew = nv.count()
      TxLog.withRetry(root) {
        case None => throw new IllegalStateException(
          s"appendIvf($idx): no committed index — build first")
        case Some(snap) =>
          val kv = TxLog.kvOf(snap.notes)
          val prev = kv("n").toLong
          // precondition (disjoint-id contract): batch vec_ids must be
          // disjoint from the index, or the count silently diverges from
          // the distinct vectors in the lists. One semi-join against the
          // pinned snapshot — bounded by index size, the price of an
          // actual integrity check.
          val dup = nv.join(TxLog.read(s, root, snap.version).select("vec_id"),
            Seq("vec_id"), "left_semi").limit(1).count()
          require(dup == 0,
            s"appendIvf($idx): batch contains vec_ids already in the index")
          val assigned = Similarity.assignTo(nv,
            s.read.parquet(s"$idx/${kv("centroids")}"), Similarity.AssignR)
            .repartition(col("list_id")) // one file per touched list
          Some(TxLog.commitAppendKv(s, root, assigned, snap, "",
            Map("n" -> (prev + nNew).toString)))
      }
      ()
    } finally nv.unpersist()
  }

  /** Labeled-IVF build — the filtered-ANN path ("ivfl" kind, its own
    * index dir so the unlabeled layouts stay untouched): identical list
    * layout to [[buildIvf]] plus the `label` payload carried INTO every
    * list row (vectors and their filterable metadata co-located, the
    * standard payload-filtered ANN design — filtering at probe time needs
    * no corpus-sized side join), and a label histogram (one row per
    * distinct label) the probe reads for selectivity widening. */
  def buildIvfLabeled(e: DataFrame, idx: String): Unit = {
    val cs = Similarity.centroids(e).cache()
    cs.write.mode("overwrite").parquet(s"$idx/centroids")
    Similarity.assignTo(e, cs, Similarity.AssignR, carry = Seq("label"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$idx/lists")
    e.groupBy("label").agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/labelstats")
    cs.unpersist()
    writeMeta(e, idx)
  }

  /** How many lists a filtered probe should scan: a predicate keeping
    * 1/f of the corpus thins every inverted list by ~f (labels and
    * coarse clusters are independent unless proven otherwise), so
    * surfacing the same candidate mass needs ~f× the lists — capped at
    * all of them, where the probe degrades gracefully to an exhaustive
    * scan OF THE FILTERED ROWS only (still partition-pruned I/O at the
    * list level, still never the unfiltered corpus in memory). */
  def widenedNprobe(nprobe: Int, total: Long, nMatching: Long): Int =
    if (nMatching <= 0) nprobe
    else math.min(Similarity.IvfK,
      math.ceil(nprobe.toDouble * total / nMatching).toInt)

  /** Filtered ANN — metadata-constrained top-k (the "WHERE label = L"
    * vector search every retrieval product needs). Probes the labeled
    * index with [[widenedNprobe]] lists and pushes the label equality
    * INTO the pruned list scan (the label lives in the list rows, so the
    * filter is a parquet pushdown, not a join). */
  def filteredTopKPersisted(e: DataFrame, sfDir: String, queryVecId: Long,
      labelVal: Int, k: Int, nprobe: Int): DataFrame = {
    val idx = pathFor("ivfl", sfDir)
    buildLock.synchronized { if (!isFresh(e, idx)) buildIvfLabeled(e, idx) }
    val s = e.sparkSession
    // constant-size index metadata (≤ |distinct labels| rows), not a data collect
    val stats = s.read.parquet(s"$idx/labelstats").collect()
    val total = stats.map(_.getAs[Long]("n")).sum
    val nL = stats.find(_.getAs[Int]("label") == labelVal)
      .map(_.getAs[Long]("n")).getOrElse(0L)
    val nprobeEff = widenedNprobe(nprobe, total, nL)
    val q = broadcast(e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv")))
    val cs = s.read.parquet(s"$idx/centroids")
    val probed = cs.crossJoin(q)
      .select(col("c_id"), Similarity.cosineFast(s, "cv", "qv").as("csim"))
      .orderBy(col("csim").desc, col("c_id")).limit(nprobeEff)
      .select("c_id").collect().map(_.getLong(0))
    val scored = s.read.parquet(s"$idx/lists")
      .filter(col("list_id").isin(probed: _*)) // directory pruning
      .filter(col("label") === labelVal && col("vec_id") =!= queryVecId)
      .crossJoin(q)
      .select(col("vec_id"),
        Similarity.cosineFast(s, "embedding", "qv").as("cosv"))
    Similarity.dedupTopK(scored, Seq.empty, "cosv", k)
      .select(col("vec_id"), round(col("cosv"), 6).cast("double").as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** sim3 through the persisted index: lazy build, then probe-only. */
  def ivfTopKPersisted(e: DataFrame, sfDir: String, queryVecId: Long,
      k: Int, nprobe: Int): DataFrame = {
    val idx = pathFor("ivf", sfDir)
    buildLock.synchronized { if (!isFreshIvf(e, idx)) buildIvf(e, idx) }
    val q = broadcast(e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv")))
    probeIvf(e.sparkSession, idx, q, k, nprobe, excludeVecId = queryVecId)
  }

  /** BATCH kNN join through the persisted IVF index — the many-queries
    * retrieval shape (sim2 is its exact brute-force twin): every query
    * probes its `nprobe` nearest lists, the (list_id, q_id) probe pairs
    * broadcast onto the pruned list scan (so each stored vector is scored
    * only against the queries probing its list), and a per-query window
    * keeps top-`k`. The union of probed lists carries a LITERAL isin too,
    * so the scan still directory-prunes when the batch doesn't touch
    * every list. Scale: probe fan-out is |q|·nprobe rows (broadcastable
    * for any sane batch; a corpus-sized query set would flip to an
    * equi-join on list_id — same plan shape without the broadcast). */
  def knnJoinPersisted(e: DataFrame, sfDir: String, nQueries: Int, k: Int,
      nprobe: Int): DataFrame = {
    val idx = pathFor("ivf", sfDir)
    buildLock.synchronized { if (!isFreshIvf(e, idx)) buildIvf(e, idx) }
    val s = e.sparkSession
    val (kvm, lsnap) = listsSnap(idx).get
    val cs = s.read.parquet(s"$idx/${kvm("centroids")}")
    // both small frames are CACHED: each feeds the eager probed-id
    // collect AND the returned plan's broadcasts — uncached, the query-
    // side corpus filter and the probe ranking would evaluate twice per
    // call. Freed by the harnesses' per-query clearCache.
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .cache()
    val probeW = Window.partitionBy("q_id")
      .orderBy(col("csim").desc, col("list_id"))
    val probes = cs.crossJoin(broadcast(qs))
      .select(col("c_id").as("list_id"), col("q_id"),
        Similarity.cosineFast(s, "cv", "qv").as("csim"))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select("list_id", "q_id")
      .cache()
    val probedIds = probes.select("list_id").distinct()
      .collect().map(_.getLong(0)) // ≤ min(|q|·nprobe, #lists) — index metadata
    val rankW = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id"))
    // manifest-level pruning (see probeIvf): only the union of probed
    // lists' files enter the plan, one relation per surviving list
    val probedVals = probedIds.map(_.toString).toSet
    TxLog.readPruned(s, listsRoot(idx), lsnap)(t => t.head.exists(probedVals))
      .join(broadcast(probes), "list_id") // fan vectors to probing queries
      .join(broadcast(qs), "q_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Similarity.cosineFast(s, "embedding", "qv").as("cosv"))
      // a multi-assigned vector can reach the same query via 2 probed
      // lists — the capped per-query dedup reuses the rank window's one
      // candidate exchange, then aggregates only |q|·k·R survivor rows
      .transform(Similarity.dedupTopK(_, Seq("q_id"), "cosv", k))
      .select(col("q_id"), col("vec_id"),
        round(col("cosv"), 6).cast("double").as("cos"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .orderBy("q_id", "rn")
  }

  // ------------------------------------------------------------ SRP-LSH

  /** Build the SRP-LSH index: the corpus with its hyperplane fingerprint
    * attached (the fingerprint pass — NBits fused dot products per
    * vector — runs once here instead of per probe; the hyperplanes are
    * pure functions, so nothing else needs storing). */
  def buildSrp(e: DataFrame, idx: String): Unit = {
    SrpLsh.fingerprints(e)
      .write.mode("overwrite").parquet(s"$idx/fps")
    writeMeta(e, idx)
  }

  /** sim7 through the persisted index: probe = read the stored
    * fingerprints, apply the band-membership filter (pushed to the scan
    * as a data filter), exact-rerank the candidates. */
  def srpTopKPersisted(e: DataFrame, sfDir: String, queryVecId: Long,
      k: Int): DataFrame = {
    val idx = pathFor("srp", sfDir)
    buildLock.synchronized { if (!isFresh(e, idx)) buildSrp(e, idx) }
    val s = e.sparkSession
    val fps = s.read.parquet(s"$idx/fps")
    SrpLsh.probe(e, fps, queryVecId, k)
  }

  // ------------------------------------------------------------- flat PQ

  /** Build the flat-PQ index: trained codebooks + one packed 64-bit code
    * row per vector (no list partitioning — flat PQ's ranking pass scans
    * every code by design; the bytes it reads are 32× smaller than the
    * raw vectors). */
  def buildPq(e: DataFrame, idx: String): Unit = {
    val books = Quantization.codebooks(e).cache()
    books.write.mode("overwrite").parquet(s"$idx/books")
    Quantization.encodeNative(e, books)
      .write.mode("overwrite").parquet(s"$idx/codes")
    books.unpersist()
    writeMeta(e, idx)
  }

  /** sim5 through the persisted index: codebook training and the encode
    * pass happen once per corpus; per query only the ADC scan over the
    * stored codes + the exact rerank run. */
  def pqTopKPersisted(e: DataFrame, sfDir: String, queryVecId: Long,
      k: Int, rerank: Int): DataFrame = {
    val idx = pathFor("pq", sfDir)
    buildLock.synchronized { if (!isFresh(e, idx)) buildPq(e, idx) }
    val s = e.sparkSession
    Quantization.pqProbe(e,
      s.read.parquet(s"$idx/books"), s.read.parquet(s"$idx/codes"),
      queryVecId, k, rerank)
  }

  // --------------------------------------------------------------- IVF-PQ

  /** Build the IVF-PQ index: centroids + residual codebooks + packed
    * 4-bit-per-subspace codes partitioned by list (Quantization.ivfpqBuild
    * does the algebra; this persists it). */
  def buildIvfPq(e: DataFrame, idx: String): Unit = {
    val (csU, books, codes) = Quantization.ivfpqBuild(e)
    csU.write.mode("overwrite").parquet(s"$idx/centroids")
    books.write.mode("overwrite").parquet(s"$idx/books")
    codes.write.mode("overwrite").partitionBy("list_id").parquet(s"$idx/codes")
    writeMeta(e, idx)
  }

  /** SIM8/SIM10 raw top-k forms, bench-only (the REGISTERED
    * `sim8_knn_join_ivf` / `sim10_filtered_ann` are RecallVerdict's
    * oracled recall-floor verdicts over these same plans); IvfIndexSpec
    * additionally pins recall vs sim2's exact kNN join and result-shape
    * parity. */
  val rawDefs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef.unoracled("sim8_knn_join_ivf_raw") { (s, dir) =>
      knnJoinPersisted(graft.sources.Tables.embeddings(s, dir), dir,
        nQueries = 10, k = 5, nprobe = 8)
    },
    // SIM10: filtered ANN (label = 3) through the labeled index. Base
    // nprobe 1 widens by the ~10× label selectivity to ~10 of 16 lists —
    // genuinely pruned AND genuinely approximate at gate scale; the
    // recall floor vs sim9's exact answer is the registered oracled verdict.
    graft.QueryDef.unoracled("sim10_filtered_ann_raw") { (s, dir) =>
      filteredTopKPersisted(graft.sources.Tables.embeddings(s, dir), dir,
        queryVecId = 0L, labelVal = 3, k = 20, nprobe = 1)
    }
  )

  /** sim6 through the persisted index: lazy build, then probe-only — the
    * ranking pass reads centroids (k rows), books (M·K rows), and the
    * probed code directories (8 bytes/vector); raw vectors are touched
    * only for the query row and the `rerank` survivors. */
  def ivfpqTopKPersisted(e: DataFrame, sfDir: String, queryVecId: Long,
      k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val idx = pathFor("ivfpq", sfDir)
    buildLock.synchronized { if (!isFresh(e, idx)) buildIvfPq(e, idx) }
    val s = e.sparkSession
    Quantization.ivfpqProbe(e,
      s.read.parquet(s"$idx/centroids"),
      s.read.parquet(s"$idx/books"),
      s.read.parquet(s"$idx/codes"),
      queryVecId, k, nprobe, rerank)
  }
}
