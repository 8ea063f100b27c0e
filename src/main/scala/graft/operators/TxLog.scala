package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Snapshot-isolation commit log for parquet tables — the ONE versioned
  * manifest discipline that replaces the repo's earlier ad-hoc commit
  * protocols (upsert/delete atomic directory swap, rollup `_folded_tags`
  * sidecar) for TABLE state. The shape is the public Delta/Iceberg core,
  * reduced to what a filesystem gives for free:
  *
  *   root/
  *     _txlog/v-<k>        versioned manifest: the complete data-file list
  *                          of version k (each file optionally tagged with
  *                          its partition value), note lines
  *                          (effectively-once tags) and a trailing
  *                          `commit` terminator
  *     data/c-<uuid>/       one immutable directory of parquet part files
  *                          per commit — written ONCE, never modified
  *
  * The three guarantees, and where each comes from:
  *
  *   - **Snapshot isolation for readers.** [[read]] resolves the latest
  *     complete manifest ONCE and hands Spark the explicit file list. Data
  *     files are immutable and uniquely named, so the snapshot stays
  *     byte-stable for as long as the plan lives — a reader concurrent
  *     with any number of commits sees exactly the version it pinned,
  *     never a mix, and NO `refreshByPath` hand-holding is needed anywhere
  *     (Spark's listing caches can't go stale on paths whose content never
  *     changes; the mutable state — the manifest — is read outside Spark).
  *   - **Exactly one winner per version.** A writer stages its manifest to
  *     a temp file and publishes with `Files.createLink(v-<k+1>, tmp)` —
  *     hard-link creation is an atomic compare-and-swap on POSIX: it
  *     either creates the full, final manifest or throws
  *     `FileAlreadyExistsException` having published NOTHING. The loser's
  *     staged data directory is invisible (no manifest references it) and
  *     is swept by [[vacuum]] once it outlives the grace window.
  *   - **Effectively-once folds.** Note lines ride IN the manifest, so a
  *     batch tag commits in the same atomic publish as the data it
  *     describes. A crash anywhere leaves either the old manifest (retry
  *     re-folds: one copy) or the new manifest with its tag (retry
  *     no-ops); there is no window where data and marker disagree. Unlike
  *     a swap-based fold, CONCURRENT folders are safe: both read version
  *     k, one CAS wins k+1, the loser re-reads (sees the winner's tag
  *     set) and retries against fresh state — no silently dropped batch.
  *
  * **Partitioned tables** carry their partition metadata IN the manifest
  * (one `p` header line naming the column; each `f` line tagged with its
  * file's partition value), not in directory-listing conventions — the
  * Delta/Iceberg move that turns partition pruning from an O(dirs)
  * filesystem walk into an O(1) manifest scan, which is what survives a
  * 100 TB table with 10^5 partitions. [[read]] re-attaches the partition
  * column per file group; a `filter(col(part) === v)` then constant-folds
  * every other group's scan away (PropagateEmptyRelation), so pruning
  * happens at plan time with zero I/O. [[upsertPartitioned]] rewrites
  * ONLY the partitions a batch touches: untouched files are carried into
  * the new manifest by reference, never read, never copied — one day's
  * crawl costs one day's partition. [[adopt]] converts an existing plain
  * or hive-partitioned parquet directory in place (zero data movement —
  * the v1 manifest simply references the files where they are).
  *
  * What this deliberately does not do: multi-table transactions and
  * conflict-aware merges of CONCURRENT row-level edits (the losers retry
  * serially — optimistic concurrency, same as Delta's simplest level).
  * The persisted index layouts ([[SigIndex]], [[IvfIndex]]) commit
  * THROUGH this log too: each index is one txlog table whose staleness
  * count / artifact pointers ride as replaced `kv:` notes in the same
  * atomic publish as the index rows — which is what retired the old
  * claim/stage/janitor side protocol (a crashed index append is now just
  * an unreferenced staged directory, invisible and vacuumable).
  */
object TxLog {

  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  /** One manifest data file: path relative to root, plus its partition
    * tag when the table is partitioned. Single-column tables carry the
    * DECODED value (None = the hive default / null partition, or an
    * unpartitioned table) — the round-9 semantics, unchanged. Multi-
    * column tables carry `Some(enc1/enc2/…)`: one hive-ESCAPED value per
    * partition column in `p`-header order, '/'-joined — unambiguous
    * because escapePathName escapes '/' inside values; the joined string
    * round-trips through the manifest's own encode/decode like any
    * single value. */
  /** `dv` — the entry's DELETION VECTOR (merge-on-read delete state):
    * (sidecar rel path, deleted-row count). The sidecar is a parquet
    * file of (f: rel data-file path, p: row index) pairs; reads
    * anti-join the file's positions out, so a MoR delete never rewrites
    * the data file — O(deleted rows) written instead of O(file bytes).
    * Any rewrite of the file (COW delete/update, compact, cluster,
    * overwrite) purges the vector: the restaged file has the survivors
    * only. Exact live rows = stats.rows − dv.rows. */
  final case class FileEntry(path: String, part: Option[String],
      size: Option[Long] = None, stats: Option[FileStats] = None,
      dv: Option[(String, Long)] = None) {
    /** Exact live row count when the footer stats are recorded. */
    def liveRows: Option[Long] = stats.map(_.rows - dv.map(_._2).getOrElse(0L))
  }

  /** Per-file column statistic (the Delta/Iceberg data-skipping core,
    * recorded from the staged file's OWN parquet footer — metadata-only,
    * never a second data pass). `kind` names the compare domain ('l'
    * integral, 'd' decimal/floating, 's' UTF-8 string, 'D' date-days,
    * 't'/'T' timestamp-micros TZ/NTZ, 'b' boolean, 'n' nulls-only);
    * min/max ride in the manifest as rendered strings and decode at
    * prune time. ABSENCE of any piece never prunes — see [[Stats]]. */
  final case class ColStat(kind: Char, nulls: Option[Long],
      min: Option[String], max: Option[String])

  /** Footer statistics for one manifest data file: exact row count plus
    * per-top-level-column [[ColStat]]. */
  final case class FileStats(rows: Long, cols: Map[String, ColStat])

  /** The VERSION-PINNED change-attribution marker keys ([[writeCdcFiles]]
    * contract). Exactly these keys get the stale-copy strip at publish;
    * user properties in the `cdc_` namespace are ordinary kv notes. */
  private val CdcMarkerKeys: Seq[String] =
    Seq("cdc_noop", "cdc_full", "cdc_files", "cdc_rowlevel")

  /** One pinned table version: the manifest's data files (relative to
    * root), its accumulated note set (effectively-once tags), the
    * table's partition column, if any (with its committed DataType —
    * hive path values are untyped strings, so the manifest records the
    * type the table was written with and [[read]] casts the re-attached
    * literal back), and the committed FILE schema (JSON; absent on
    * adopted tables and pre-schema manifests, where reads fall back to
    * parquet inference). The stored schema is what makes mixed-vintage
    * versions read uniformly: old files surface later-added columns as
    * NULL, and planning never samples footers. `timestampMs` is the
    * commit's publish time as written IN the manifest (`t` header) —
    * exact and portable, unlike file mtimes; None only on pre-header
    * manifests. */
  final case class Snapshot(version: Long, entries: Seq[FileEntry],
      notes: Set[String],
      partCols: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq.empty,
      schemaJson: Option[String] = None,
      timestampMs: Option[Long] = None,
      mapping: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty) {
    def files: Seq[String] = entries.map(_.path)
    /** Single-column convenience views (the pre-multi-column API). */
    def partCol: Option[String] = partCols.headOption.map(_._1)
    def partType: org.apache.spark.sql.types.DataType =
      partCols.headOption.map(_._2)
        .getOrElse(org.apache.spark.sql.types.StringType)
  }

  /** Per-partition outcome of [[upsertPartitioned]]. */
  final case class PartStats(partition: String, rowsBefore: Long,
      rowsAfter: Long, batchRows: Long)

  private def logDir(root: String): Path = Paths.get(root, "_txlog")

  private def manifestPath(root: String, v: Long): Path =
    logDir(root).resolve(f"v-$v%020d")

  /** All manifest versions present, complete or not. Claimed version
    * numbers are burnt even when their manifest is torn (a crashed
    * fallback-path writer): the next writer claims past them. */
  private def allVersions(root: String): Seq[Long] = {
    logListings.set(logListings.get + 1L)
    Option(logDir(root).toFile.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("v-").toLong).toOption)
      .sorted
  }

  // ---------------------------------------------------------------------
  // Incremental manifests + snapshot checkpoints (the Delta log shape).
  // A commit manifest carries either the COMPLETE file list (`f` lines —
  // a "full" manifest: v1, adopts, overwrites) or only its DELTA vs the
  // parent version (`+f`/`-f` lines under a `k delta` header): an append
  // writes O(batch) manifest bytes, a metadata-only commit (rename, drop,
  // fold note, restore of a near-identical state) writes ~zero entry
  // lines — so a streaming table taking 10⁴ small appends pays 10⁴ small
  // manifests, not 10⁴ re-listings of every prior file (which made
  // cumulative manifest bytes QUADRATIC in commit count). [[publish]]
  // picks whichever encoding is smaller, so an overwrite stays a
  // self-contained resolution barrier.
  //
  // Readers resolve a version's file list as: nearest base at or below it
  // (a full manifest, or a `ck-<v>` SNAPSHOT CHECKPOINT file written every
  // [[CheckpointInterval]] commits by the publish winner) plus the delta
  // suffix — O(interval) manifest parses for ANY retained version, never
  // O(commit count). The `_last_checkpoint` pointer names the newest
  // checkpoint (floor for forward-probing [[currentVersion]]); the ck
  // file also carries the cumulative set of data directories referenced
  // at or below its version, which is what keeps [[vacuum]] O(suffix).
  // A stale or missing checkpoint is never a correctness problem: refs
  // only ever over-protect, and every fast path falls back to the full
  // listing.
  // ---------------------------------------------------------------------

  /** Commits between checkpoint refreshes. */
  val CheckpointInterval: Int = 10

  private[graft] final case class Checkpoint(version: Long, refs: Set[String],
      entries: Seq[FileEntry] = Seq.empty)

  private def pointerPath(root: String): Path =
    logDir(root).resolve("_last_checkpoint")

  private def ckPath(root: String, v: Long): Path =
    logDir(root).resolve(f"ck-$v%020d")

  /** All snapshot-checkpoint versions present (a listing — used by cold
    * resolution paths and vacuum's fallback, not the hot path). */
  private def allCkVersions(root: String): Seq[Long] = {
    logListings.set(logListings.get + 1L)
    Option(logDir(root).toFile.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("ck-").toLong).toOption
        .filter(_ => f.getName.startsWith("ck-")))
      .sorted
  }

  /** Parse one ck-<v> snapshot checkpoint file: full entry list at v plus
    * the cumulative protective refs. */
  private def parseCk(root: String, v: Long): Option[Checkpoint] = {
    val p = ckPath(root, v)
    if (!Files.isRegularFile(p)) return None
    manifestParses.set(manifestParses.get + 1L)
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector
    if (!lines.lastOption.contains("commit")) return None
    val entries = lines.collect {
      case l if l.startsWith("f\t") => parseEntry(l.drop(2))
    }
    Some(Checkpoint(v, lines.collect {
      case l if l.startsWith("d\t") => l.drop(2)
    }.toSet, entries))
  }

  /** Newest checkpoint via the `_last_checkpoint` pointer (hot path; no
    * directory listing). None when the pointer or its ck file is missing
    * or torn — callers fall back to listings. */
  private[graft] def readCheckpoint(root: String): Option[Checkpoint] = {
    val p = pointerPath(root)
    if (!Files.isRegularFile(p)) return None
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector
    if (!lines.lastOption.contains("commit")) return None
    lines.collectFirst { case l if l.startsWith("v\t") => l.drop(2).toLong }
      .flatMap(parseCk(root, _))
  }

  /** Write ck-<v> (atomic), then swing the `_last_checkpoint` pointer to
    * it (atomic). A crash between the two leaves the old pointer naming
    * the old, still-present ck file — consistent, merely stale. */
  private def writeCheckpoint(root: String, ck: Checkpoint): Unit = {
    val fLines = ck.entries.map(e => renderEntry("f", e, e.part.isDefined))
    val body = (s"v\t${ck.version}" +: (fLines ++
      ck.refs.toSeq.sorted.map("d\t" + _)) :+ "commit")
      .mkString("", "\n", "\n")
    val tmp = logDir(root).resolve(s".ckpt-tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, ckPath(root, ck.version),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val ptr = s"v\t${ck.version}\ncommit\n"
    val tmp2 = logDir(root).resolve(s".ckpt-tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp2, ptr.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp2, pointerPath(root),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Normalized data-directory key of a manifest entry — the unit vacuum
    * sweeps (`data/c-<uuid>`; adopted files normalize to keys outside
    * `data/`, which vacuum never touches). */
  private def dirKey(e: FileEntry): String = dirKeyPath(e.path)

  private def dirKeyPath(path: String): String =
    path.split("/").take(2).mkString("/")

  /** The directories a manifest REFERENCES for protection purposes: a
    * full manifest references its whole list; a delta references its
    * adds (its carried files were added by earlier manifests, whose refs
    * the cumulative checkpoint chain already holds). */
  private def refDirs(m: Manifest): Set[String] =
    (if (m.delta) m.adds else m.entries).flatMap(refKeys).toSet ++
      // a commit's change files (`kv:cdc_files:<v>:<dir>`) must survive
      // vacuum exactly as long as a retained manifest pins them — the
      // same lifecycle as dv sidecars (notes ride in full in every
      // manifest, delta or not, so every retained manifest protects the
      // change dirs its note set names)
      kvOf(m.notes).get("cdc_files").map(v => v.drop(v.indexOf(':') + 1))

  /** Protection keys of one entry: its data directory plus, when the
    * entry carries a deletion vector, the sidecar's directory — a dv
    * sidecar must survive vacuum exactly as long as a retained manifest
    * references it. */
  private def refKeys(e: FileEntry): Seq[String] =
    dirKey(e) +: e.dv.map(d => dirKeyPath(d._1)).toSeq

  /** Refresh the checkpoint after publishing `published`: previous refs ∪
    * the directories added by manifests in (prevFloor, published], plus
    * the COMPLETE file list at `published` (handed in by the publisher —
    * no resolution walk needed). Best-effort — a checkpoint is an
    * optimization, so a failure here must never fail the commit that
    * triggered it. */
  private def maybeCheckpoint(root: String, published: Long,
      entries: Seq[FileEntry]): Unit =
    if (published % CheckpointInterval == 0)
      try {
        val prev = readCheckpoint(root).getOrElse(Checkpoint(0L, Set.empty))
        val suffixRefs = ((prev.version + 1) to published).flatMap(v =>
          parseManifest(manifestPath(root, v)).toSeq.flatMap(refDirs)).toSet
        writeCheckpoint(root,
          Checkpoint(published, prev.refs ++ suffixRefs, entries))
        thinCheckpoints(root, published)
      } catch { case scala.util.control.NonFatal(_) => () }

  /** Exponential checkpoint retention, applied after each refresh: keep
    * the newest few (age ≤ 3 intervals) plus exponentially-spaced
    * ancestors (age ~2^k intervals → spacing 2^k intervals), delete the
    * rest — O(log commits) snapshot checkpoints retained instead of one
    * per interval, which made cumulative `_txlog` bytes quadratic-ish on
    * long append streams (each ck carries the full, growing file list).
    * Safe unconditionally for CORRECTNESS: checkpoints are pure
    * resolution accelerators — every delta chain still bottoms out at a
    * full manifest (v1, any overwrite) — with ONE exception: the floor
    * checkpoint [[pruneHistory]] rebuilds at the oldest retained version
    * is that version's only base once the prefix manifests are deleted,
    * so any ck at or below the oldest manifest is always kept. Time
    * travel to a thinned region pays O(distance-to-older-base) parses —
    * archaeology costs linear, the hot paths stay O(interval) (the Delta
    * log-retention trade). */
  private def thinCheckpoints(root: String, newest: Long): Unit = {
    val minManifest = allVersions(root).headOption.getOrElse(0L)
    val cks = allCkVersions(root)
    // Never delete the OLDEST surviving checkpoint. Since round 12
    // pruneHistory rewrites its floor manifest as a FULL manifest before
    // deleting the prefix, so no ck is load-bearing on tables it pruned —
    // but a table pruned by earlier vintages can still have a delta floor
    // manifest whose ONLY base is its ck, and racing pruneHistory this
    // loop may hold a stale minManifest below the new floor. Keeping the
    // minimum ck (an O(1) retention cost) covers both.
    val oldestCk = cks.headOption.getOrElse(Long.MinValue)
    cks.filter(v => v < newest && v > minManifest && v != oldestCk).foreach { u =>
      val age = newest - u
      if (age > 3L * CheckpointInterval) {
        val k = 63 - java.lang.Long.numberOfLeadingZeros(age / CheckpointInterval)
        val gap = CheckpointInterval.toLong << k
        if (u % gap != 0) Files.deleteIfExists(ckPath(root, u))
      }
    }
  }

  /** Parse the body of an `f`/`+f` entry line:
    * `path[\t<part>[\t<size>]]`. The optional third field is the file
    * LENGTH in bytes (recorded by every stager since round 11) — what
    * lets reads hand Spark a pre-listed file set with zero plan-time
    * filesystem calls (the Delta/Iceberg manifest shape); legacy
    * manifests without it fall back to the stat-per-path reader. */
  private def parseEntry(rest: String): FileEntry = rest.split("\t", 5) match {
    case Array(path) => FileEntry(path, None)
    case Array(path, part) => FileEntry(path, decodePart(part))
    case Array(path, part, size) =>
      FileEntry(path, decodePart(part), Some(size.toLong))
    case Array(path, part, size, stats) =>
      FileEntry(path, decodePart(part), Some(size.toLong), Stats.parse(stats))
    case Array(path, part, size, stats, dv) =>
      // 5th field: deletion vector, `<deletedRows>:<sidecarRelPath>`;
      // the stats slot holds `-` when the entry has a dv but no footer
      // stats (Stats.parse rejects it to None)
      val Array(rows, dvPath) = dv.split(":", 2)
      FileEntry(path, decodePart(part), Some(size.toLong), Stats.parse(stats),
        Some((dvPath, rows.toLong)))
  }

  /** Render one entry line body (inverse of [[parseEntry]]). `withPart`
    * keeps the legacy 2-field form for sized-less partitioned entries;
    * a recorded size always writes the full 3-field form (the partition
    * slot then carries the hive default name for unpartitioned files,
    * which decodes back to None). */
  private def renderEntry(prefix: String, e: FileEntry,
      withPart: Boolean): String = {
    val dvSuffix = e.dv.map { case (p, rows) => s"\t$rows:$p" }.getOrElse("")
    (e.size, e.stats) match {
      case (Some(sz), Some(st)) =>
        s"$prefix\t${e.path}\t${encodePart(e.part)}\t$sz\t${Stats.render(st)}$dvSuffix"
      case (Some(sz), None) if e.dv.isDefined =>
        s"$prefix\t${e.path}\t${encodePart(e.part)}\t$sz\t-$dvSuffix"
      case (Some(sz), None) => s"$prefix\t${e.path}\t${encodePart(e.part)}\t$sz"
      case (None, _) if withPart => s"$prefix\t${e.path}\t${encodePart(e.part)}"
      case (None, _) => s"$prefix\t${e.path}"
    }
  }

  private def encodePart(part: Option[String]): String =
    part.map(ExternalCatalogUtils.escapePathName)
      .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)

  private def decodePart(s: String): Option[String] =
    if (s == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
    else Some(ExternalCatalogUtils.unescapePathName(s))

  /** Per-column partition VALUES → the [[FileEntry]] tag. Single-column
    * tables carry the decoded value itself (the round-9 semantics, so
    * existing manifests keep meaning what they meant); multi-column
    * tables carry one hive-ESCAPED value per column in `p`-header order,
    * '/'-joined — unambiguous because escapePathName escapes '/' inside
    * values, and the joined string then rides through the manifest's own
    * encode/decode like any single value. */
  private def encodeTuple(values: Seq[Option[String]]): Option[String] =
    if (values.size <= 1) values.headOption.flatten
    else Some(values.map(v => v.map(ExternalCatalogUtils.escapePathName)
      .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)).mkString("/"))

  /** Inverse of [[encodeTuple]] for an `n`-column table: the per-column
    * DECODED values (None = null partition) in `p`-header order. Loud on
    * arity mismatch — a manifest whose entry tags disagree with its `p`
    * headers is corrupt, not reinterpretable. */
  private def decodeTuple(part: Option[String], n: Int): Seq[Option[String]] =
    if (n <= 1) Seq(part)
    else {
      val s = part.getOrElse(throw new IllegalStateException(
        s"multi-column partitioned entry with no partition tag"))
      val comps = s.split("/", -1).toSeq
      require(comps.size == n,
        s"partition tag '$s' has ${comps.size} components, table has $n partition columns")
      comps.map(c =>
        if (c == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
        else Some(ExternalCatalogUtils.unescapePathName(c)))
    }

  /** Parsed manifest content (version-independent). `partCol` carries
    * the committed partition type when the manifest recorded one
    * (`p\tname\ttype`); bare `p\tname` headers (pre-typed manifests)
    * read as STRING — exactly what those tables stored. */
  /** `mapping` is the column-mapping layer (the Delta column-mapping
    * shape, name-based): physical (in-file) column name → logical
    * (user-visible) name, for exactly the columns whose two names
    * differ. The committed schema (`s`) always carries PHYSICAL names in
    * logical order; a renamed column keeps its physical name in every
    * data file forever — rename and drop are metadata-only commits.
    * `retired` lists physical names dropped from the schema but still
    * present in old data files: a later re-add of the same logical name
    * must mint a FRESH physical name, or old files would resurrect the
    * dropped column's values instead of surfacing NULL. */
  /** `delta = true` marks an INCREMENTAL manifest: `entries` is empty and
    * the version's file list is parent's − `removes` + `adds` (headers —
    * notes, schema, mapping, partition metadata — always ride complete in
    * every manifest; only the FILE LIST is delta-encoded, because it is
    * the only section that grows with table size). */
  private final case class Manifest(entries: Seq[FileEntry], notes: Set[String],
      partCols: Seq[(String, org.apache.spark.sql.types.DataType)],
      schemaJson: Option[String], timestampMs: Option[Long],
      mapping: Map[String, String], retired: Set[String],
      delta: Boolean = false, adds: Seq[FileEntry] = Seq.empty,
      removes: Set[String] = Set.empty)

  /** Instrumentation for the metadata fast path: how many manifests were
    * parsed / directories listed ON THIS THREAD since the counters were
    * zeroed (manifest metadata ops are driver-thread-synchronous, so
    * thread-local counters are immune to concurrently running suites).
    * Test hooks only — the checkpoint contract ("snapshot resolution
    * reads the checkpoint plus the version suffix, never the whole log")
    * is pinned by asserting these stay O(suffix) on a long log. */
  private[graft] val manifestParses: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(0L))
  private[graft] val logListings: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(0L))
  /** Data-staging invocations on this thread — the spec hook proving a
    * CAS loser REBASED instead of re-running its rewrite job (a recompute
    * re-stages; a rebase republishes the already-staged files). */
  private[graft] val dataStages: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(0L))
  private val counters = Seq(manifestParses, logListings, dataStages)

  /** Run `work` on the global pool and return its await. The counters
    * above are thread-local, so the work counts on the pool thread; the
    * await adds those counts to the awaiting thread's, so a writer's
    * counters include the staging it forked. A failure is logged as
    * `failed` (an attempt that ends before the await abandons the
    * future, and its failure would otherwise be no one's exception). */
  private[graft] def forked[T](failed: => String)(work: => T): () => T = {
    import scala.concurrent.ExecutionContext.Implicits.global
    def now() = counters.map(_.get.longValue)
    val f = scala.concurrent.Future {
      val before = now()
      val r = work
      (r, now().zip(before).map { case (a, b) => a - b })
    }
    f.failed.foreach(e => System.err.println(s"$failed: $e"))
    () => {
      val (r, counted) = scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf)
      counters.zip(counted).foreach { case (c, n) => c.set(c.get + n) }
      r
    }
  }
  /** Test-only race injector: fired (once — the hook clears itself or
    * the spec swaps it) immediately before a rebasable publish attempt,
    * ON the writer's thread, so a spec can deterministically interleave
    * a winning commit between a writer's job and its CAS. Never set
    * outside tests. */
  @volatile private[graft] var testRacePublishHook: Option[String => Unit] = None

  private def parseManifest(p: Path): Option[Manifest] = {
    if (!Files.isRegularFile(p)) return None
    manifestParses.set(manifestParses.get + 1L)
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector
    // completeness gate: a manifest is real only when its terminator
    // landed — the hard-link publish makes partial content unreachable,
    // but the gate also protects any future non-POSIX fallback publisher
    if (!lines.lastOption.contains("commit")) return None
    def entryOf(rest: String): FileEntry = parseEntry(rest)
    val delta = lines.exists(_.startsWith("k\tdelta"))
    val entries = lines.collect {
      case l if l.startsWith("f\t") => entryOf(l.drop(2))
    }
    val adds = lines.collect {
      case l if l.startsWith("+f\t") => entryOf(l.drop(3))
    }
    val removes = lines.collect {
      case l if l.startsWith("-f\t") => l.drop(3)
    }.toSet
    val notes = lines.collect { case l if l.startsWith("n\t") => l.drop(2) }.toSet
    // one `p` line per partition column, in partitioning order (hive path
    // nesting order). Bare `p\tname` (pre-typed manifests) reads STRING.
    val partCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
      lines.collect {
        case l if l.startsWith("p\t") => l.drop(2).split("\t", 2) match {
          case Array(name) =>
            (name, org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType)
          case Array(name, ddl) => (name, org.apache.spark.sql.types.DataType.fromDDL(ddl))
        }
      }
    val schema = lines.collectFirst { case l if l.startsWith("s\t") => l.drop(2) }
    val ts = lines.collectFirst { case l if l.startsWith("t\t") => l.drop(2).toLong }
    val mapping = lines.collect {
      case l if l.startsWith("m\t") => l.drop(2).split("\t", 2) match {
        case Array(phys, logical) => phys -> logical
      }
    }.toMap
    val retired = lines.collect { case l if l.startsWith("x\t") => l.drop(2) }.toSet
    Some(Manifest(entries, notes, partCols, schema, ts, mapping, retired,
      delta, adds, removes))
  }

  /** Resolve the COMPLETE file list of version `v` whose manifest is `m`:
    * walk back to the nearest base (a full manifest or a ck-<u> snapshot
    * checkpoint — one exists within [[CheckpointInterval]] versions by
    * construction), then apply the delta suffix in version order. Kept
    * files keep the base's order; adds append in commit order — a
    * deterministic total order, same as the full encoding would have
    * recorded. Throws when the chain is broken (a base was pruned without
    * a checkpoint — pruneHistory's ordering makes that unreachable).
    * `known`, a checkpoint the caller already parsed, serves its version
    * without a second parse. */
  private def resolveEntries(root: String, v: Long, m: Manifest,
      known: Option[Checkpoint] = None): Seq[FileEntry] = {
    if (!m.delta) return m.entries
    def ckAt(u: Long) = known.filter(_.version == u).orElse(parseCk(root, u))
    // a checkpoint AT v is the resolved state after applying v itself —
    // the floor version left by pruneHistory resolves through its own ck
    ckAt(v) match {
      case Some(ck) => return ck.entries
      case None => ()
    }
    var deltas = List(m)
    var u = v - 1
    var base: Seq[FileEntry] = null
    while (base == null && u >= 1) {
      ckAt(u) match {
        case Some(ck) => base = ck.entries
        case None =>
          parseManifest(manifestPath(root, u)) match {
            case Some(mu) if !mu.delta => base = mu.entries
            case Some(mu) => deltas = mu :: deltas; u -= 1
            case None => throw new IllegalStateException(
              s"txlog $root: cannot resolve version $v — the delta chain is " +
                s"broken at version $u (manifest missing and no checkpoint)")
          }
      }
    }
    if (base == null) base = Seq.empty // chain bottoms out below version 1
    deltas.foldLeft(base)(applyDelta)
  }

  /** The file list after delta manifest `d`, given its parent's list. */
  private def applyDelta(parent: Seq[FileEntry], d: Manifest): Seq[FileEntry] =
    parent.filterNot(e => d.removes(e.path)) ++ d.adds

  /** Latest COMPLETE version, 0 when the table has no log yet. With a
    * checkpoint present this is O(versions-since-checkpoint): probe
    * forward from the checkpointed floor (version numbers are dense — a
    * CAS publish is always expected+1), then take the newest complete
    * manifest at or above the floor. Falls back to the full-directory
    * listing only when the fast path finds nothing (no checkpoint yet,
    * or a stale checkpoint whose floor manifest was pruned). */
  def currentVersion(root: String): Long = latestManifest(root).fold(0L)(_._2)

  /** [[currentVersion]]'s search, returning what it parsed: the newest
    * checkpoint it read (when the fast path found the version) and the
    * newest complete manifest with its version — so [[snapshot]] pins
    * the latest version without parsing its manifest (or that
    * checkpoint) a second time. */
  private def latestManifest(
      root: String): Option[(Option[Checkpoint], Long, Manifest)] = {
    def newest(ck: Option[Checkpoint], vs: Seq[Long]) = vs.iterator
      .flatMap(v => parseManifest(manifestPath(root, v)).map((ck, v, _)))
      .nextOption()
    readCheckpoint(root)
      .flatMap(ck => newest(Some(ck), probeLatest(root, ck.version) to ck.version by -1))
      .orElse(newest(None, allVersions(root).reverse))
  }

  /** Highest existing (complete or torn) manifest version reachable by
    * stepping forward from `floor` — O(latest - floor) stat calls, no
    * directory listing. */
  private def probeLatest(root: String, floor: Long): Long = {
    var v = floor
    while (Files.exists(manifestPath(root, v + 1))) v += 1
    v
  }

  /** Oldest retained COMPLETE version — None on an empty log. What a
    * typed retention refusal names: a stream consumer recovering from a
    * checkpoint that [[pruneHistory]] has since swept past is told the
    * earliest offset it could legally restart from. */
  def earliestVersion(root: String): Option[Long] =
    allVersions(root).find(v => parseManifest(manifestPath(root, v)).isDefined)

  /** A snapshot's LOGICAL schema — the committed physical file schema
    * surfaced under its column-mapping names. None on adopted /
    * pre-schema manifests (reads there fall back to parquet inference).
    * What the streaming source's per-version schema-evolution admission
    * compares against its pinned stream schema. */
  def logicalSchemaOf(snap: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    snap.schemaJson.map(j => logicalSchema(parseSchema(j), snap.mapping))

  /** One retained commit, as surfaced by [[history]]. */
  final case class HistoryEntry(version: Long, timestampMs: Option[Long],
      nFiles: Int, notes: Set[String])

  /** Commit history over the RETAINED versions, newest first (Delta's
    * `DESCRIBE HISTORY`). A full-listing audit over exactly the manifests
    * that still exist, folded forward once: the oldest retained version
    * resolves through its base, and each later delta applies to its
    * parent's file list, so every manifest is parsed once — O(versions),
    * not a walk back to a checkpoint per version. A version whose parent
    * is torn resolves on its own, as a snapshot would. */
  def history(root: String): Seq[HistoryEntry] = {
    var parent: Option[(Long, Seq[FileEntry])] = None
    allVersions(root).flatMap { v =>
      parseManifest(manifestPath(root, v)).map { m =>
        val entries = parent match {
          case Some((u, es)) if m.delta && u == v - 1 => applyDelta(es, m)
          case _ => resolveEntries(root, v, m)
        }
        parent = Some(v -> entries)
        HistoryEntry(v, m.timestampMs, entries.size, m.notes)
      }
    }.reverse
  }

  /** Pin a snapshot of version `v` (default: latest). None for a table
    * with no committed version. */
  def snapshot(root: String, v: Long = -1L): Option[Snapshot] = {
    val pinned =
      if (v >= 0) parseManifest(manifestPath(root, v)).map((None, v, _))
      else latestManifest(root)
    pinned.map { case (ck, ver, m) =>
      Snapshot(ver, resolveEntries(root, ver, m, ck), m.notes, m.partCols,
        m.schemaJson, m.timestampMs, m.mapping, m.retired)
    }
  }

  private def parseSchema(j: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Explicit-file read with partition inference OFF — the manifest is
    * the metadata layer; Spark must never re-derive table structure from
    * directory shapes (mixed adopted/staged depths would conflict). With
    * a committed schema, planning skips footer sampling entirely and
    * older files surface later-added columns as NULL (evolve-on-read).
    * The schema is parsed ONCE by the caller — per-group parsing would
    * repeat at exactly the partition counts [[balancedUnion]] exists
    * for. */
  private def readFiles(spark: SparkSession, paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r0 = spark.read.option("recursiveFileLookup", "true")
    schema.fold(r0)(r0.schema).parquet(paths: _*)
  }

  /** Per-partition group read for a partitioned snapshot: one explicit
    * file scan per partition value with the partition column re-attached
    * as a literal CAST BACK to its committed type (hive path values are
    * untyped strings; the manifest `p` header records the type the table
    * was written with, so an int/date/boolean partition column round-trips
    * typed — matching Spark's own partition inference and Delta/Iceberg),
    * balanced-union'd. Shared by [[read]] and the touched-partition side
    * of [[upsertPartitioned]] — one definition so reader and merger
    * cannot diverge. */
  private def readGroups(spark: SparkSession, root: String,
      entries: Seq[FileEntry],
      partCols: Seq[(String, org.apache.spark.sql.types.DataType)],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    balancedUnion(
      entries.groupBy(_.part).toSeq.sortBy(_._1.getOrElse(""))
        .map { case (pv, es) =>
          val values = decodeTuple(pv, partCols.size)
          partCols.zip(values).foldLeft(
            readFiles(spark, es.map(e => s"$root/${e.path}"), schema)) {
            case (df, ((pc, dt), v)) =>
              df.withColumn(pc, v.map(lit(_)).getOrElse(lit(null)).cast(dt))
          }
        })

  /** Latest version whose manifest was PUBLISHED at or before `epochMs`
    * (Delta's `timestampAsOf`). Exact and portable: the publish time is
    * written IN the manifest (`t` header), so a copied or restored log —
    * whose file mtimes are fresh — still time-travels correctly. Falls
    * back to the manifest file's mtime only for pre-header manifests.
    * None when every retained version is newer. */
  def versionAt(root: String, epochMs: Long): Option[Long] =
    allVersions(root).reverse
      .find { v =>
        val p = manifestPath(root, v)
        parseManifest(p).exists(m =>
          m.timestampMs.getOrElse(p.toFile.lastModified()) <= epochMs)
      }

  /** Read a pinned version (default: latest at call time). The returned
    * plan references the snapshot's explicit immutable files — evaluating
    * it later, even after newer commits, still yields this version. For a
    * partitioned table the partition column is re-attached per file group
    * (as STRING — hive path values are untyped), so a filter on it
    * constant-folds the other groups' scans away at plan time. */
  def read(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val snap = snapshot(root, version).getOrElse(
      throw new IllegalStateException(s"no committed version at $root" +
        (if (version >= 0) s" (asked for $version)" else "")))
    readSnapshot(spark, root, snap)
  }

  /** [[read]] against an ALREADY-RESOLVED snapshot — what a caller that
    * holds a pinned [[Snapshot]] (an index probe, a multi-read
    * transaction) uses to avoid re-parsing the manifest per read. */
  def readSnapshot(spark: SparkSession, root: String, snap: Snapshot): DataFrame = {
    require(snap.files.nonEmpty, s"version ${snap.version} at $root has no data files")
    val schema = snap.schemaJson.map(parseSchema)
    val phys = readEntriesOf(spark, root, snap, snap.entries, schema)
    // column-mapping layer: surface logical names. The committed schema
    // pin already restricts the scan to live physical columns (dropped
    // ones in old files are simply not read), so only RENAMES need a
    // projection — and it collapses into the scan, not a real operator.
    if (snap.mapping.isEmpty) phys else applyMapping(phys, snap, schema.get)
  }

  /** The one physical read shape for a snapshot's (possibly pruned)
    * entry list: single-relation tables — unpartitioned, or partitioned
    * with the columns riding IN the files ([[partDataInFiles]]) — read
    * as ONE explicit-file relation; legacy partitioned layouts fall back
    * to the per-partition literal-attach union. */
  /** Deep-relax nullability for SCAN schemas: a parquet file can always
    * contain nulls, so a committed schema that claims non-nullable must
    * never reach a scan — whole-stage codegen trusts the claim, skips
    * the null check, and reads garbage zeros (silent corruption; Spark's
    * own file sources force `asNullable` for exactly this reason, the
    * manifest-fed relation must too). Metadata comparisons (vintage
    * checks, additive gates) keep the committed schema verbatim. */
  private def relaxNullability(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(relaxNullability(a.elementType), containsNull = true)
      case m: MapType => MapType(relaxNullability(m.keyType),
        relaxNullability(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def readEntriesOf(spark: SparkSession, root: String, snap: Snapshot,
      entries0: Seq[FileEntry],
      schema0: Option[org.apache.spark.sql.types.StructType],
      keepPos: Boolean = false): DataFrame = {
    val entries = entries0
    val schema = schema0.map(s =>
      relaxNullability(s).asInstanceOf[org.apache.spark.sql.types.StructType])
    if (snap.partCols.isEmpty || partDataInFiles(snap.partCols, schema)) {
      val needDv = keepPos || entries.exists(_.dv.isDefined)
      val manifestFed =
        schema.isDefined && entries.nonEmpty && entries.forall(_.size.isDefined)
      // the manifest-fed relation is what hands each file its ordinal;
      // the MoR writers refuse every other layout ([[morSchema]]), so no
      // vector can reach the explicit-path reader
      require(manifestFed || !needDv,
        "deletion vectors on a table without the manifest-fed read layout")
      if (needDv) requireDvKeyBounds(entries)
      // merge-on-read deletion vectors: materialize each row's position
      // key ([[DvKeyCol]]) as an ordinary column, anti-join the entries'
      // recorded positions out, drop the bookkeeping. Filters and the
      // anti-join commute (both only remove rows), so the application
      // point is transparent to every consumer.
      def finish(raw: DataFrame): DataFrame =
        if (!needDv) raw
        else {
          val applied = applyDv(spark, root, withPos(raw), entries)
          if (keepPos) applied else applied.drop(DvKeyCol)
        }
      finish {
      // single-relation path. With a committed schema AND manifest-
      // recorded sizes (every table staged since round 11), the relation
      // is built directly over the manifest's file list — ZERO plan-time
      // filesystem calls, where the explicit-path reader re-stats every
      // file (and beyond the parallel-discovery threshold launches a
      // whole distributed listing job per query: O(files) metadata I/O
      // that a 10⁵-file table pays in minutes).
      if (manifestFed)
        org.apache.spark.sql.graftbridge.Bridge.manifestParquetRelation(spark,
          entries.map(e => (s"$root/${e.path}", e.size.get)), schema.get,
          sizeHint = statsSizeHint(snap, schema.get,
            entries.flatMap(_.size).sum),
          // AUTOMATIC skipping: the physical scan hands its pushed-down
          // filters (resolved, physical column names) back to the file
          // index at planning; footer stats drop files that cannot
          // match. Every txlog read + filter skips — no readWhere
          // opt-in needed (readWhere still prunes at RELATION-BUILD
          // time, which additionally shrinks driver-side plan state).
          judge = filters => {
            val conjuncts = filters.flatMap(Stats.splitConjuncts)
            val matched = entries.map(entryCouldMatch(snap, conjuncts))
            i => matched(i)
          },
          ordinalCol = Some(DvOrdCol).filter(_ => needDv))
      else readFiles(spark, entries.map(e => s"$root/${e.path}"), schema)
      }
    } else {
      // legacy per-partition-union layouts predate MoR deletes ([[deleteMoR]]
      // refuses them), so no dv can reach this branch
      require(!keepPos && !entries.exists(_.dv.isDefined),
        "deletion vectors on a legacy partition layout")
      readGroups(spark, root, entries, snap.partCols, schema)
    }
  }

  /** THE DELETION-VECTOR POSITION KEY: a row's (file, in-file row
    * index) as ONE long, `ordinal << DvRowBits | row_index`. The ordinal
    * is the file's index in the read's entry list, assigned on the
    * driver: the manifest-fed relation hands it to every row of the file
    * as a per-file constant ([[DvOrdCol]], a partition value), and
    * [[sidecarKeys]] maps a sidecar's manifest paths to it. Every
    * broadcast join of the MoR read and commit paths keys on this one
    * integral column, so Spark builds it as a LongHashedRelation sized
    * to its rows. A string or two-column key builds an
    * UnsafeHashedRelation instead, whose executor-side copy allocates a
    * whole Tungsten page (8 MB in a 2 GB JVM, up to 64 MB by Spark's
    * page-size rule) through a memory manager nothing accounts for, and
    * holds it until the cleaner drops the broadcast — per broadcast, for
    * a few hundred positions. 40 row-index bits (10¹² rows per file)
    * leave 23 for the ordinal, so keys stay non-negative. Underscored
    * names outside any user-facing namespace. */
  private val DvKeyCol = "__dv_key"
  private val DvOrdCol = "__dv_ord"
  private val DvRowBits = 40

  private def dvKey(ordinal: Column, rowIndex: Column): Column =
    shiftleft(ordinal, DvRowBits).bitwiseOR(rowIndex)

  /** The bounds of the [[DvKeyCol]] encoding for a read over `entries`:
    * every ordinal and every recorded row count must fit its bits. */
  private def requireDvKeyBounds(entries: Seq[FileEntry]): Unit = {
    require(entries.size.toLong < (1L << (63 - DvRowBits)),
      s"deletion-vector read over ${entries.size} files exceeds the " +
        s"${63 - DvRowBits}-bit file ordinal of the position key")
    require(entries.forall(_.stats.forall(_.rows <= (1L << DvRowBits))),
      s"a file exceeds the $DvRowBits-bit row index of the position key")
  }

  /** Each entry's ordinal — its index in `entries` — by manifest path,
    * for the entries `keep` selects. */
  private def ordinalsOf(entries: Seq[FileEntry],
      keep: FileEntry => Boolean = _ => true): Map[String, Long] =
    entries.iterator.zipWithIndex
      .collect { case (e, i) if keep(e) => e.path -> i.toLong }.toMap

  /** The scan side of the key: the relation's per-file ordinal and
    * `_metadata.row_index` folded into [[DvKeyCol]] — arithmetic only,
    * no per-row string work. */
  private def withPos(raw: DataFrame): DataFrame = raw
    .withColumn(DvKeyCol, dvKey(col(DvOrdCol), col("_metadata.row_index")))
    .drop(DvOrdCol)

  /** The sidecar side of the key: (f: manifest path, p: row index)
    * positions as [[DvKeyCol]] over `ordinals`. A row whose path has no
    * ordinal drops out — a stale position of a file since rewritten or
    * dropped. The lookup is a hash map captured in the closure, O(1) per
    * row (an `element_at` over a map literal scans the map per row). */
  private def sidecarKeys(positions: DataFrame,
      ordinals: Map[String, Long]): DataFrame = {
    val ordinalOf = udf((f: String) => ordinals.get(f))
    positions.select(dvKey(ordinalOf(col("f")), col("p")).as(DvKeyCol))
      .filter(col(DvKeyCol).isNotNull)
  }

  /** A [[DvKeyCol]] key back to its sidecar row (f, p), given the
    * entries whose ordinals the key was built over: an array index, O(1)
    * per row. */
  private def sidecarRow(key: Column, entries: Seq[FileEntry]): Seq[Column] = Seq(
    element_at(typedLit(entries.map(_.path)),
      (shiftright(key, DvRowBits) + 1).cast("int")).as("f"),
    key.bitwiseAND(lit((1L << DvRowBits) - 1)).as("p"))

  /** DV sidecar row budget under which the positions frame broadcasts —
    * one long per position ([[DvKeyCol]]), so the broadcast is a
    * LongHashedRelation of about 16 bytes a row, not a Tungsten page;
    * beyond it the anti-join falls back to a shuffle join (still exact —
    * a lake that accumulated hundreds of millions of undeleted positions
    * should compact, not broadcast). System-property override
    * (`graft.dv.broadcastRows`) exists so the fallback plan is testable
    * without staging millions of positions.
    *
    * THIS CONSTANT IS LOAD-BEARING AT SCALE in a second place: the MoR
    * writers publish each commit's positions through `repartition(1)` so
    * the sidecar is ONE parquet file (a manifest entry points at exactly
    * one sidecar path). That single task is deliberate and bounded BY
    * THIS BUDGET — 4M (f, p) rows ≈ tens of MB through one task, a
    * rounding error next to the COW rewrite the MoR commit avoided.
    * A delete whose position count would blow past the budget is the
    * signal MoR is the wrong tool for that statement: the read-side
    * fallback above (shuffle anti-join) keeps correctness, and the
    * write-side answer is copy-on-write or compaction (DvSpec pins the
    * above-budget fallback plan). Raising the budget without revisiting
    * the single-file publish would silently turn the sidecar write into
    * a driver-adjacent bottleneck. */
  private[operators] def DvBroadcastRows: Long =
    sys.props.get("graft.dv.broadcastRows").map(_.toLong)
      .getOrElse(4L * 1000 * 1000)

  private val DvSidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("f",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("p",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Anti-join the deletion-vector positions of `entries` out of a scan
    * that already carries [[DvKeyCol]]. The sidecars store
    * manifest-RELATIVE file paths (a copied/restored log keeps working);
    * [[sidecarKeys]] maps them to the dv'd entries' ordinals and drops
    * STALE sidecar rows (positions of files since rewritten or dropped).
    * The join keys on the one long [[DvKeyCol]], so its broadcast is a
    * LongHashedRelation, not a page-backed one (see [[DvKeyCol]]). The
    * positions side broadcasts below [[DvBroadcastRows]] (the manifest
    * knows the exact count without touching storage). */
  private def applyDv(spark: SparkSession, root: String, pos: DataFrame,
      entries: Seq[FileEntry]): DataFrame = {
    val dvd = entries.filter(_.dv.isDefined)
    if (dvd.isEmpty) return pos
    val sidecars = dvd.map(_.dv.get._1).distinct
    val positions = sidecarKeys(readFiles(spark,
      sidecars.map(p => s"$root/$p"), Some(DvSidecarSchema)),
      ordinalsOf(entries, _.dv.isDefined))
    val dvRows = dvd.map(_.dv.get._2).sum
    val right = if (dvRows <= DvBroadcastRows) broadcast(positions) else positions
    pos.join(right, Seq(DvKeyCol), "left_anti")
  }

  /** Partition-PRUNED read: the manifest ENTRY LIST is filtered by
    * `keep` (per-column decoded partition values, `p`-header order)
    * BEFORE any relation is built, so plan cost is O(surviving
    * partitions) — never O(table partitions). This is the scale path a
    * partitioned [[read]] + filter cannot give: the unpruned read
    * materializes one explicit-file relation per partition value and
    * relies on constant-folding to drop them AFTER planning, which at
    * 10⁵ partitions is a driver-side planning blow-up (and was the
    * measured 3× regression on the IVF probes at just 16 lists). Index
    * probes and partition-targeted maintenance go through here. */
  def readPruned(spark: SparkSession, root: String, snap: Snapshot)(
      keep: Seq[Option[String]] => Boolean): DataFrame = {
    require(snap.partCols.nonEmpty,
      s"readPruned: table at $root is not partitioned")
    val n = snap.partCols.size
    val surviving = snap.entries.filter(e => keep(decodeTuple(e.part, n)))
    val schema = snap.schemaJson.map(parseSchema)
    val phys =
      if (surviving.isEmpty)
        // schema-correct empty frame from ONE file — building the full
        // per-partition union just to limit(0) it would pay exactly the
        // planning cost this method exists to avoid
        readEntriesOf(spark, root, snap, Seq(snap.entries.head), schema).limit(0)
      else readEntriesOf(spark, root, snap, surviving, schema)
    if (snap.mapping.isEmpty) phys else applyMapping(phys, snap, schema.get)
  }

  /** Per-partition census straight from the manifest: decoded value
    * tuple (`p`-header order, None = the null/default partition), file
    * count, and exact row count when every file carries footer stats
    * (None otherwise — absence degrades, never guesses). Zero data I/O,
    * zero directory listing — the `SHOW PARTITIONS` backend. */
  def partitionCensus(root: String): Seq[(Seq[Option[String]], Int, Option[Long])] = {
    val snap = snapshot(root).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    require(snap.partCols.nonEmpty,
      s"partitionCensus: table at $root is not partitioned")
    val n = snap.partCols.size
    snap.entries.groupBy(e => decodeTuple(e.part, n)).toSeq.map { case (t, es) =>
      // liveRows: physical footer rows minus deletion-vector rows —
      // exact under merge-on-read deletes, one manifest read, no data I/O
      val rs = es.map(_.liveRows)
      (t, es.size, if (rs.forall(_.isDefined)) Some(rs.flatten.sum) else None)
    }.sortBy(_._1.map(_.getOrElse("")).mkString("\u0000"))
  }

  /** [[readPruned]] convenience for single-column tables: keep exactly
    * the given partition VALUES (None = the null partition). */
  def readPartitions(spark: SparkSession, root: String,
      values: Set[Option[String]], version: Long = -1L): DataFrame = {
    val snap = snapshot(root, version).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    readPruned(spark, root, snap)(t => values.contains(t.head))
  }

  /** Predicate-pruned read — DATA SKIPPING over the manifest's footer
    * statistics. `predicateSql` (an ANSI boolean expression over the
    * table's logical columns) is split into AND-conjuncts and evaluated
    * against each entry's [[FileStats]] interval logic — with partition
    * values contributing exact point stats, so partition AND clustered-
    * column predicates prune through the one mechanism — and only files
    * that COULD match get a relation. The surviving scan still applies
    * the full predicate, so skipping is pure optimization: any stat the
    * manifest lacks simply keeps its file (see [[Stats]] for the safety
    * matrix). At 100 TB this is the difference between scanning the few
    * files whose [min,max] straddle a selective range and scanning a
    * million — the reason Delta/Iceberg put stats in the log, and what
    * plain partition pruning cannot give on a SECOND dimension (cluster
    * by the second key at write time → tight disjoint ranges → O(match)
    * files touched). */
  def readWhere(spark: SparkSession, root: String, predicateSql: String,
      version: Long = -1L): DataFrame = {
    val snap = snapshot(root, version).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    val (kept, _) = pruneEntries(spark, snap, predicateSql)
    val schema = snap.schemaJson.map(parseSchema)
    val phys =
      if (kept.isEmpty)
        readEntriesOf(spark, root, snap, Seq(snap.entries.head), schema).limit(0)
      else readEntriesOf(spark, root, snap, kept, schema)
    val mapped =
      if (snap.mapping.isEmpty) phys else applyMapping(phys, snap, schema.get)
    mapped.filter(expr(predicateSql))
  }

  /** The manifest entries of `snap` that could satisfy `predicateSql`,
    * plus the total entry count — the data-skipping decision surface,
    * public for specs and skip-ratio verdicts. Attribute names are
    * LOGICAL (the column-mapping layer translates to the physical names
    * footer stats are recorded under); partition columns prune as exact
    * synthetic point stats, so legacy layouts without footer stats still
    * partition-prune here. */
  def pruneEntries(spark: SparkSession, snap: Snapshot,
      predicateSql: String): (Seq[FileEntry], Int) = {
    val pred = org.apache.spark.sql.graftbridge.Bridge
      .parseExpression(spark, predicateSql)
    (snap.entries.filter(entryCouldMatch(snap, Stats.splitConjuncts(pred))),
      snap.entries.size)
  }

  /** Could `e` contain a row satisfying every conjunct? The per-entry
    * decision behind [[pruneEntries]], [[readWhere]] and the pruned
    * [[delete]] — partition values contribute exact synthetic point
    * stats, footer stats everything else, absence keeps the file. */
  private def entryCouldMatch(snap: Snapshot,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression])(
      e: FileEntry): Boolean = {
    val logToPhys = snap.mapping.map(_.swap)
    def physName(attr: String): String =
      logToPhys.find(_._1.equalsIgnoreCase(attr)).map(_._2).getOrElse(attr)
    val n = snap.partCols.size
    val partVals = decodeTuple(e.part, n)
      def partStat(idx: Int): Option[ColStat] = partVals(idx) match {
        case None =>
          // null partition: EVERY row's value is null — the MaxValue
          // null count exceeds any real row count, so null-rejecting
          // conjuncts prune exactly (rows uses the same ceiling when
          // footer stats are absent, which only ever under-prunes)
          Some(ColStat('n', Some(Long.MaxValue), None, None))
        case Some(v) =>
          val enc: Option[(Char, String)] = snap.partCols(idx)._2 match {
            case _: org.apache.spark.sql.types.ByteType |
                 _: org.apache.spark.sql.types.ShortType |
                 _: org.apache.spark.sql.types.IntegerType |
                 _: org.apache.spark.sql.types.LongType =>
              scala.util.Try(('l', BigDecimal(v).bigDecimal.toString)).toOption
            case _: org.apache.spark.sql.types.FloatType |
                 _: org.apache.spark.sql.types.DoubleType |
                 _: org.apache.spark.sql.types.DecimalType =>
              scala.util.Try(('d', BigDecimal(v).bigDecimal.toString)).toOption
            case org.apache.spark.sql.types.StringType => Some(('s', v))
            case org.apache.spark.sql.types.DateType =>
              scala.util.Try(
                ('D', java.time.LocalDate.parse(v).toEpochDay.toString)).toOption
            case org.apache.spark.sql.types.BooleanType =>
              Some(('b', v.toLowerCase))
            case _ => None
          }
          enc.map { case (k, s) => ColStat(k, Some(0L), Some(s), Some(s)) }
      }
    def colOf(attr: String): Option[ColStat] = {
      val p = physName(attr)
      val pi = snap.partCols.indexWhere(_._1.equalsIgnoreCase(p))
      if (pi >= 0) partStat(pi)
      else e.stats.flatMap(
        _.cols.find(_._1.equalsIgnoreCase(p)).map(_._2))
    }
    Stats.survives(
      Some(e.stats.map(_.rows).getOrElse(Long.MaxValue)), colOf, conjuncts)
  }

  /** Stage `df` as one immutable data directory; returns the relative
    * parquet file paths. An empty result restages with one partition so
    * the schema-bearing empty part file exists (a manifest must never be
    * file-less — [[read]] needs a schema source). */
  private def stageData(spark: SparkSession, root: String,
      df: DataFrame, dirPrefix: String = "c-"): Seq[FileEntry] = {
    dataStages.set(dataStages.get + 1L)
    val dirName =
      s"data/$dirPrefix${java.util.UUID.randomUUID().toString.take(12)}"
    val abs = s"$root/$dirName"
    df.write.mode("overwrite").parquet(abs)
    def parts = Option(new java.io.File(abs).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => FileEntry(s"$dirName/${f.getName}", None, Some(f.length())))
      .toSeq.sortBy(_.path)
    if (parts.isEmpty) df.repartition(1).write.mode("overwrite").parquet(abs)
    Stats.attach(root, parts)
  }

  /** Stage `df` (which must carry `partCol`) as one immutable data
    * directory in hive layout; the partition value of each file is
    * recovered from its directory name into the manifest entry. The
    * hive writer drops the partition column from the data files — [[read]]
    * re-attaches it from the manifest. */
  /** Walk a hive layout `c1=v1/c2=v2/…/part-*.parquet` of nesting depth
    * `partCols.size` under `dir`, recovering each file's partition tuple
    * from its directory chain. Shared by [[stagePartitioned]] and
    * [[adopt]] so stager and adopter cannot diverge on the encoding. */
  private def walkHive(dir: java.io.File, relPrefix: String,
      partCols: Seq[String]): Seq[FileEntry] = {
    def go(d: java.io.File, rel: String, depth: Int,
        values: Seq[Option[String]]): Seq[FileEntry] =
      if (depth == partCols.size)
        Option(d.listFiles()).getOrElse(Array.empty).toSeq
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => FileEntry(s"$rel/${f.getName}", encodeTuple(values),
            Some(f.length())))
      else Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .filter(sd => sd.isDirectory && sd.getName.startsWith(partCols(depth) + "="))
        .flatMap { sd =>
          val v = decodePart(sd.getName.stripPrefix(partCols(depth) + "="))
          go(sd, s"$rel/${sd.getName}", depth + 1, values :+ v)
        }
    go(dir, relPrefix, 0, Seq.empty).sortBy(_.path)
  }

  /** Hive-staging partition columns under a SHADOW name so the writer's
    * partitionBy drops the shadow and the REAL column stays in the data
    * files — what makes a partitioned read ONE relation (see
    * [[partDataInFiles]]). The prefix is rejected in user partition
    * columns, so a shadow can never collide with a real column. */
  private val ShadowPrefix = "__p_"

  /** Does this snapshot's committed file schema carry the partition
    * columns IN the data files (the single-relation layout staged since
    * round 11), rather than only in directory names (legacy + adopted
    * layouts, where [[readGroups]] re-attaches them as per-group
    * literals)? Derived from the committed schema, so the flag is stable
    * per table vintage: mixed commits stage to match it, and a FULL
    * overwrite — which replaces every file — upgrades a legacy table to
    * the single-relation layout. */
  private def partDataInFiles(
      partCols: Seq[(String, org.apache.spark.sql.types.DataType)],
      schema: Option[org.apache.spark.sql.types.StructType]): Boolean =
    partCols.nonEmpty && schema.exists(st =>
      partCols.forall(pc => st.fields.exists(_.name.equalsIgnoreCase(pc._1))))

  /** Stage `df` hive-partitioned. `keepInFiles` selects the layout:
    * true (all newly created tables, every full overwrite) duplicates
    * each partition column under a [[ShadowPrefix]] name and partitions
    * by the shadows, so the data files KEEP the real columns — reads
    * become one explicit-file relation with the partition predicate a
    * plain parquet pushdown, never a per-partition union (the
    * O(#partitions)-relations planning cost that regressed the IVF
    * probes and would be a driver blow-up at 10⁵ partitions). false
    * (mixed commits into legacy tables) preserves the round-9 layout so
    * old and new files stay schema-uniform.
    *
    * `placeholderIfEmpty` — when the frame stages ZERO rows, full-table
    * stagers (init, overwrite) still need one schema-bearing file, but
    * mixed commits whose final file list carries OTHER entries (partial
    * DELETE/UPDATE rewrites where every candidate row was a victim,
    * empty append batches, compaction of empty files) must pass false:
    * their placeholder would be pure noise, and before round 12 it was
    * worse — it published with NO partition tag, which poisons every
    * later [[decodeTuple]] on a multi-column table (arity check throws)
    * and mislabels the file as the null partition on a single-column
    * one. The placeholder that IS published carries the explicit
    * all-null value tuple, so it always decodes cleanly. */
  private def stagePartitioned(spark: SparkSession, root: String, df: DataFrame,
      partCols: Seq[String], keepInFiles: Boolean,
      placeholderIfEmpty: Boolean = true,
      dirPrefix: String = "c-"): Seq[FileEntry] = {
    dataStages.set(dataStages.get + 1L)
    val dirName =
      s"data/$dirPrefix${java.util.UUID.randomUUID().toString.take(12)}"
    val abs = s"$root/$dirName"
    val (toWrite, byCols) =
      if (keepInFiles) {
        partCols.foreach(pc => require(
          !df.columns.exists(_.equalsIgnoreCase(ShadowPrefix + pc)),
          s"stage: column ${ShadowPrefix + pc} collides with the shadow " +
            s"partitioning name of $pc"))
        (partCols.foldLeft(df)((d, pc) =>
          d.withColumn(ShadowPrefix + pc, col(pc))),
          partCols.map(ShadowPrefix + _))
      } else (df, partCols)
    toWrite.write.mode("overwrite").partitionBy(byCols: _*).parquet(abs)
    val entries = walkHive(new java.io.File(abs), dirName, byCols)
    if (entries.nonEmpty) Stats.attach(root, entries)
    else if (!placeholderIfEmpty) Seq.empty
    else {
      // empty table: one schema-bearing file matching the layout's file
      // schema (legacy: partition columns dropped, as the hive writer
      // would have; keepInFiles: columns retained). The entry is tagged
      // with the EXPLICIT all-null value tuple — Some(...) for n ≥ 2
      // columns — never the bare no-tag form, which decodeTuple rightly
      // treats as manifest corruption on multi-column tables.
      val emptyDf = if (keepInFiles) df else df.drop(partCols: _*)
      emptyDf.repartition(1).write.mode("overwrite").parquet(abs)
      val nullTuple = encodeTuple(Seq.fill(partCols.size)(None))
      Stats.attach(root,
        Option(new java.io.File(abs).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => FileEntry(s"$dirName/${f.getName}", nullTuple, Some(f.length())))
          .toSeq.sortBy(_.path))
    }
  }

  /** Stage `df` to a table's layout — THE restage path of every writer:
    * hive-partitioned on `partCols` ([[stagePartitioned]], whose
    * `keepInFiles` / `placeholderIfEmpty` choices apply), or one plain
    * directory ([[stageData]], which always keeps a schema-bearing file)
    * when the table is unpartitioned. */
  private def stage(spark: SparkSession, root: String, df: DataFrame,
      partCols: Seq[String], keepInFiles: Boolean = true,
      placeholderIfEmpty: Boolean = true, dirPrefix: String = "c-"): Seq[FileEntry] =
    if (partCols.nonEmpty)
      stagePartitioned(spark, root, df, partCols, keepInFiles, placeholderIfEmpty,
        dirPrefix)
    else stageData(spark, root, df, dirPrefix)

  /** The parent of a table's first version: no files, no notes, no
    * metadata. Publishing against it is the parent-less genesis form
    * ([[init]], [[initPartitioned]], [[adopt]]): the CAS claims version 1
    * and the manifest is full, since there is nothing to diff against. */
  private val Genesis = Snapshot(0L, Seq.empty, Set.empty)

  /** THE COMMIT SEAM: atomically publish version `parent.version + 1`.
    * Every manifest field defaults to the parent's value, so a writer
    * names only what its commit changes, and the CAS version and the
    * delta base come from the one snapshot it read — they cannot
    * disagree. Throws ConcurrentModificationException — having published
    * NOTHING — when another writer got there first. The manifest records
    * the publish time (`t` header, exact [[versionAt]] travel) and the
    * partition column's committed type (`p\tname\ttype` — [[read]] casts
    * the re-attached literal back). Every [[CheckpointInterval]]-th
    * version also refreshes the metadata checkpoint.
    *
    * The parent's COMPLETE file list enables the DELTA encoding: when
    * `adds + removes` is the smaller representation the manifest carries
    * only the diff (`k delta` + `+f`/`-f` lines), making per-commit
    * manifest bytes O(change), not O(table files); against [[Genesis]]
    * the full list always wins. */
  private def publish(root: String, parent: Snapshot)(
      entries: Seq[FileEntry] = parent.entries,
      notes: Set[String] = parent.notes,
      partCols: Seq[(String, org.apache.spark.sql.types.DataType)] = parent.partCols,
      schemaJson: Option[String] = parent.schemaJson,
      mapping: Map[String, String] = parent.mapping,
      retired: Set[String] = parent.retired): Long = {
    Files.createDirectories(logDir(root))
    val expected = parent.version
    val next = expected + 1
    // a GENESIS publish means this root is a fresh (or re-created) log:
    // any append-step verdicts memoized for a previous incarnation of
    // the same path are stale — drop them before version numbers start
    // repeating (the harness's freshRoot really does delete + re-init
    // fixed paths inside one JVM, so this is not hypothetical)
    if (next == 1L) invalidateAppendSteps(root)
    // drop STALE version-pinned attribution markers (the four exact
    // marker KEYS — never a prefix match, so a user property that merely
    // lives in the `cdc_` namespace with a numeric-leading value, e.g.
    // `cdc_retention_days=30`, is NOT swept) whose pinned version is not
    // THIS commit: readChanges reads version v's marker from manifest v
    // itself — a copy carried forward by the note set serves nothing
    // and, for `cdc_files`, over-protects its change dir from vacuum for
    // as long as ANY later manifest survives instead of exactly as long
    // as manifest v does
    val notesOut = notes.filterNot { n =>
      CdcMarkerKeys.exists(k => n.startsWith(s"kv:$k:")) && {
        val pin = n.drop(n.indexOf(':', 3) + 1).takeWhile(_.isDigit)
        pin.nonEmpty && pin.toLong != next
      }
    }
    def entryLine(prefix: String, e: FileEntry): String =
      renderEntry(prefix, e, withPart = partCols.nonEmpty)
    val newPaths = entries.map(_.path).toSet
    val oldByPath = parent.entries.map(e => e.path -> e).toMap
    // an entry counts as an ADD when its path is new OR its content
    // changed in place (a deletion-vector update rewrites the entry
    // under the same path) — a path-only diff would silently drop
    // same-path changes from the delta; changed paths also emit a
    // remove so the replay (filterNot removes ++ adds) replaces them
    val adds = entries.filter(e => !oldByPath.get(e.path).contains(e))
    val changed = adds.map(_.path).toSet
    val removes = parent.entries.map(_.path).filter(p => !newPaths(p) || changed(p))
    val fLines: Seq[String] =
      if (adds.size + removes.size < entries.size)
        "k\tdelta" +: (adds.map(entryLine("+f", _)) ++ removes.map("-f\t" + _))
      else entries.map(entryLine("f", _))
    // schema JSON is single-line by construction (JSON escapes control
    // characters), so it rides as one `s` header line
    // one `p` line per partition column, in hive nesting order
    val body = (partCols.map { case (pc, dt) => s"p\t$pc\t${dt.catalogString}" } ++
      Seq(s"t\t${System.currentTimeMillis()}") ++
      schemaJson.map("s\t" + _).toSeq ++
      mapping.toSeq.sorted.map { case (p, l) => s"m\t$p\t$l" } ++
      retired.toSeq.sorted.map("x\t" + _) ++
      fLines ++ notesOut.toSeq.sorted.map("n\t" + _) :+ "commit")
      .mkString("", "\n", "\n")
    val tmp = logDir(root).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try {
      try Files.createLink(manifestPath(root, next), tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"txlog $root: version $next already published " +
              s"(this writer read stale version $expected); re-read and retry")
      }
      maybeCheckpoint(root, next, entries)
      next
    } finally Files.deleteIfExists(tmp)
  }

  /** LOGICAL CONFLICT DETECTION + COMMIT REBASE for an optimistic
    * read-modify-write writer that lost the publish CAS (the Delta
    * conflict-checker shape): the loser's intended commit is
    * `parent \ victims ∪ staged` — `victims` the parent entries its job
    * read and superseded, `staged` the replacement files ALREADY ON
    * DISK. When the interleaved winners are logically disjoint (see
    * [[rebaseConflict]]), the staged output is still exactly what a
    * serial run against the fresh snapshot would produce, so the loser
    * REBASES — recomputes carried-by-reference entries from the fresh
    * snapshot and republishes — without re-running the rewrite job. At
    * 100 TB that is the difference between a lost CAS costing one
    * manifest write and costing hours of recompute: a MERGE racing a
    * disjoint append retries in milliseconds. A genuine overlap rethrows
    * ConcurrentModificationException so the caller's [[withRetry]] loop
    * recomputes from scratch — correctness never rides on the rebase.
    *
    * `readConjuncts`: a predicate bound on every row OUTSIDE `victims`
    * the job's output logically depends on (a merge's key-range ∧ scope
    * conjuncts) — an interleaved file that could hold a matching row is
    * a conflict. None = the job read the whole table (only metadata-only
    * interleavings rebase). `notesFn` re-derives the commit's note set
    * against the WINNER's notes. `changes` — the commit's exact changed
    * rows, built lazily; None marks a row-preserving maintenance rewrite
    * — are attributed here, ONCE, by [[attribution]] (change files when
    * the table opted in), and the marker re-pins to the ACTUAL commit
    * version on every attempt without rewriting the change dir (the
    * dir's rows are version-free; `_commit_version` is attached at read
    * from the manifest pin). `gate` is the caller's pre-publish check
    * ([[prePublish]]): it runs after the staging and the change files,
    * strictly before the first CAS. Metadata fields default to the
    * parent's (a rebase requires them unchanged in the winner). */
  private def publishRmw(root: String, parent: Snapshot,
      victims: Seq[FileEntry], staged: Seq[FileEntry],
      readConjuncts: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
      notesFn: Set[String] => Set[String],
      changes: Option[() => DataFrame],
      interloperHot: Option[FileEntry => Boolean] = None,
      gate: () => Unit = () => (),
      maxRebases: Int = 5)(
      schemaJson: Option[String] = parent.schemaJson,
      mapping: Map[String, String] = parent.mapping,
      retired: Set[String] = parent.retired,
      partCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
        parent.partCols): Long = {
    val cdcKv = attribution(root, parent.notes, changes,
      if (changes.isEmpty) "cdc_noop" else "cdc_full")
    gate()
    val victimPaths = victims.map(_.path).toSet
    var snap = parent
    var rebases = 0
    while (true) {
      val carried = snap.entries.filterNot(e => victimPaths(e.path))
      try {
        testRacePublishHook.foreach { h =>
          testRacePublishHook = None
          h(root)
        }
        return publish(root, snap)(entries = carried ++ staged,
          notes = kvMerge(notesFn(snap.notes), cdcKv(snap.version + 1)),
          partCols = partCols, schemaJson = schemaJson, mapping = mapping,
          retired = retired)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          rebases += 1
          if (rebases > maxRebases) throw e
          val fresh = snapshot(root).getOrElse(throw e)
          rebaseConflict(parent, fresh, victims, readConjuncts,
            interloperHot) match {
            case Some(why) =>
              throw new java.util.ConcurrentModificationException(
                s"txlog $root: commit rebased off version ${parent.version} " +
                  s"conflicts with interleaved commits ($why); recompute")
            case None => snap = fresh // disjoint: republish, job NOT re-run
          }
      }
    }
    0L // unreachable
  }

  /** Change attribution for a rewrite commit, as the marker for whichever
    * version it ends up publishing (see [[writeCdcFiles]] for the marker
    * contract): when the table opted into `change_feed` and the commit
    * knows its changed `rows`, they are written to change files HERE,
    * once, and the marker is `cdc_files`; otherwise it is `fallback`
    * (`cdc_full` for a rewrite, `cdc_noop` for row-preserving
    * maintenance). */
  private def attribution(root: String, notes: Set[String],
      rows: Option[() => DataFrame], fallback: String): Long => Map[String, String] =
    rows.filter(_ => wantsChangeFiles(notes)).map(r => writeCdcFiles(root, r())) match {
      case Some(dir) => v => Map("cdc_files" -> s"$v:$dir")
      case None => v => Map(fallback -> v.toString)
    }

  /** Start pre-publish work CONCURRENTLY with the commit's staging and
    * return its await. The work may only depend on the pinned snapshot
    * (change-file attribution, a MERGE multi-match check, staging the
    * rows a commit adds, a caller's kv derivation); the writer awaits it
    * after its own staging, strictly before the CAS, so a failure refuses
    * the commit with nothing visible. An attempt that ends before the
    * await (a refusal, a zero-victim bump, a CAS loss) abandons the
    * future: its staged output is an unreferenced directory that
    * [[vacuum]] reclaims like a CAS loser's, and its failure — no longer
    * anyone's exception — is logged instead of swallowed. The await
    * carries the work's counter counts to the writer's thread
    * ([[forked]]). */
  private def prePublish[T](root: String, what: String)(work: => T): () => T =
    forked(s"graft.TxLog: pre-publish $what at $root failed")(work)

  /** Why the loser's staged commit CANNOT rebase onto `fresh` — None
    * when every premise its job ran under still holds there:
    * table metadata (schema, mapping, retired set, partitioning, CHECK
    * constraints) unchanged; every victim entry present in `fresh` with
    * IDENTICAL entry identity (path + partition + size + stats + dv — a
    * winner that rewrote, removed, or MoR-deleted from a victim changes
    * it); and no interleaved entry (new path or changed identity) could
    * hold a row matching `readConjuncts` under the fresh snapshot's
    * stats. A dv-only change to a NON-victim file whose stats still
    * exclude the conjuncts passes — fewer rows can't create a match. */
  private def rebaseConflict(parent: Snapshot, fresh: Snapshot,
      victims: Seq[FileEntry],
      readConjuncts: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
      interloperHot: Option[FileEntry => Boolean] = None)
      : Option[String] = {
    if (fresh.schemaJson != parent.schemaJson)
      return Some("committed schema changed")
    if (fresh.mapping != parent.mapping || fresh.retired != parent.retired)
      return Some("column mapping changed")
    if (fresh.partCols != parent.partCols)
      return Some("partitioning changed")
    if (constraintsOf(fresh.notes) != constraintsOf(parent.notes))
      return Some("CHECK constraints changed")
    val freshByPath = fresh.entries.map(e => e.path -> e).toMap
    val gone = victims.filterNot(v => freshByPath.get(v.path).contains(v))
    if (gone.nonEmpty)
      return Some(s"${gone.size} victim file(s) rewritten or removed")
    val parentSet = parent.entries.toSet
    val interlopers = fresh.entries.filterNot(parentSet)
    if (interlopers.isEmpty) return None
    interloperHot match {
      case Some(isHot) =>
        // caller-supplied admission (e.g. partition-tag membership for
        // the partition-scoped upsert) — used INSTEAD of stats conjuncts
        val hot = interlopers.filter(isHot)
        if (hot.isEmpty) None
        else Some(s"${hot.size} interleaved file(s) inside the commit's " +
          "write scope")
      case None => readConjuncts match {
        case None => Some(s"${interlopers.size} interleaved file(s) under a " +
          "whole-table read")
        case Some(cs) if cs.isEmpty =>
          Some(s"${interlopers.size} interleaved file(s) under an unprunable " +
            "read predicate")
        case Some(cs) =>
          val hot = interlopers.filter(entryCouldMatch(fresh, cs))
          if (hot.isEmpty) None
          else Some(s"${hot.size} interleaved file(s) may hold rows in the " +
            "commit's read range")
      }
    }
  }

  /** Create a table (version 1) from `df`. Throws the retryable
    * ConcurrentModificationException when a log already exists — so a
    * [[withRetry]] writer that raced another initializer re-reads and
    * takes its table-exists branch instead of dying on a non-retryable
    * error (the publish CAS covers the narrower check-then-publish
    * window the same way). */
  def init(spark: SparkSession, root: String, df: DataFrame, note: String = ""): Long =
    initWith(spark, root, df, Seq.empty, noted(note)(Set.empty))

  /** [[init]]/[[initPartitioned]] with a full initial NOTE SET (tags plus
    * `kv:` properties in one v1 publish) — the create leg of
    * [[replaceTable]] and the kv-bearing effectively-once appends. */
  private def initWith(spark: SparkSession, root: String, df: DataFrame,
      partCols: Seq[String], notes: Set[String], op: String = "init"): Long = {
    partCols.foreach(pc => requireStablePartType(df, pc, op))
    ensureUninitialized(root)
    // new tables use the single-relation layout: partition columns ride
    // in the files, so the committed file schema keeps them
    publish(root, Genesis)(entries = stage(spark, root, df, partCols),
      notes = notes, partCols = partCols.map(pc => (pc, df.schema(pc).dataType)),
      schemaJson = Some(fileSchemaJson(df, Seq.empty)))
  }

  /** Create-or-REPLACE in one commit, with an EXACT resulting note set —
    * the rebuild commit of a derived table (a persisted index): the new
    * version's content is `df` alone, and the accumulated effectively-once
    * tags are DROPPED rather than carried, because they describe batches
    * folded into data this commit just replaced (a replayed old batch id
    * must re-append against the REBUILT content, not no-op against a
    * ledger describing dead files). Readers pinned on prior versions keep
    * them until pruneHistory + vacuum, and the publish is CAS-atomic —
    * a reader never sees a half-rebuilt table (the torn-rebuild window
    * the plain-directory index layouts used to have). */
  def replaceTable(spark: SparkSession, root: String, df: DataFrame,
      partCol: Option[String] = None, note: String = "",
      kv: Map[String, String] = Map.empty): Long =
    replaceTablePartitioned(spark, root, df, partCol.toSeq, note, kv)

  /** [[replaceTable]] for MULTI-column partitioned layouts — the same
    * create-or-replace commit, requiring the existing table's partition
    * columns to match exactly (partition layout is fixed at creation;
    * the replace rewrites every file but keeps the layout contract). */
  def replaceTablePartitioned(spark: SparkSession, root: String,
      df: DataFrame, partCols: Seq[String], note: String = "",
      kv: Map[String, String] = Map.empty): Long = {
    // same gates as initPartitioned (the create leg routes through
    // initWith, which doesn't re-check them)
    require(partCols.map(_.toLowerCase(java.util.Locale.ROOT))
        .distinct.size == partCols.size,
      s"replaceTable: duplicate partition columns in $partCols")
    partCols.foreach(pc => requireStablePartType(df, pc, "replaceTable"))
    val base = kvMerge(noted(note)(Set.empty), kv)
    withRetry(root) {
      case None =>
        Some(initWith(spark, root, df, partCols, base))
      case Some(snap) =>
        require(snap.partCols.map(_._1) == partCols,
          s"replaceTable($root): table is partitioned on " +
            s"${snap.partCols.map(_._1)}, caller asked for $partCols — " +
            "partition layout is fixed at creation")
        Some(commitOverwriteNotes(spark, root, df, snap, _ => base))
    }.get
  }

  /** Create a PARTITIONED table (version 1) from `df`, hive-staged on
    * `partCol` with the partition values recorded in the manifest. */
  def initPartitioned(spark: SparkSession, root: String, df: DataFrame,
      partCol: String, note: String = ""): Long =
    initPartitioned(spark, root, df, Seq(partCol), note)

  /** Multi-column [[initPartitioned]]: hive-nested on `partCols` in
    * order ((date, hour), (lang, source) — the real-table shapes); the
    * manifest carries one `p` header per column and each file's value
    * TUPLE as its entry tag. */
  def initPartitioned(spark: SparkSession, root: String, df: DataFrame,
      partCols: Seq[String], note: String): Long = {
    require(partCols.nonEmpty, "initPartitioned: no partition columns")
    require(partCols.map(_.toLowerCase).distinct.size == partCols.size,
      s"initPartitioned: duplicate partition columns in $partCols")
    initWith(spark, root, df, partCols, noted(note)(Set.empty), "initPartitioned")
  }

  /** Convert an EXISTING plain parquet directory (partCol = None) or
    * hive-partitioned layout (partCol = Some(col)) into a txlog table in
    * place — zero data movement, the v1 manifest references the files
    * where they already are (the Delta CONVERT shape). Adopted files live
    * outside `data/`, so [[vacuum]] never sweeps them even once
    * superseded; reclaiming them after a full rewrite is the operator's
    * explicit cleanup. */
  def adopt(spark: SparkSession, root: String, partCol: Option[String] = None,
      note: String = "adopt"): Long =
    adoptPartitioned(spark, root, partCol.toSeq, note)

  /** [[adopt]] for an existing MULTI-column hive layout
    * (`c1=v1/c2=v2/…/part-*.parquet`), nesting order = `partCols`. */
  def adoptPartitioned(spark: SparkSession, root: String,
      partCols: Seq[String], note: String = "adopt"): Long = {
    ensureUninitialized(root)
    val rootF = new java.io.File(root)
    val entries: Seq[FileEntry] =
      if (partCols.isEmpty)
        Option(rootF.listFiles()).getOrElse(Array.empty).toSeq
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => FileEntry(f.getName, None, Some(f.length()))).sortBy(_.path)
      else walkHive(rootF, "", partCols).map(e =>
        e.copy(path = e.path.stripPrefix("/")))
    require(entries.nonEmpty, s"adopt: no parquet data found at $root")
    // no committed schema: the adopted files' vintage is whatever it is —
    // reads stay on parquet inference until the first overwrite commit.
    // Likewise no committed partition type (hive paths are untyped), so
    // adopted partition columns read back as STRING until rewritten.
    // Footer stats ARE collected (one metadata read per adopted file —
    // the only per-file cost of the zero-movement convert), so skipping
    // works from v1.
    publish(root, Genesis)(entries = Stats.attach(root, entries), notes = Set(note),
      partCols = partCols.map(pc =>
        (pc, org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType)))
  }

  private def ensureUninitialized(root: String): Unit =
    if (currentVersion(root) != 0L)
      throw new java.util.ConcurrentModificationException(
        s"txlog already initialized at $root; re-read and retry")

  /** Union a list of frames as a BALANCED tree (depth log₂ n). A
    * left-deep `reduce(_ unionByName _)` builds a union whose depth
    * equals the partition count — Catalyst's recursive tree traversals
    * overflow the driver stack at 10⁴+ partitions long before data size
    * is the problem. */
  private def balancedUnion(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else balancedUnion(dfs.grouped(2).map {
      case Seq(a, b) => a.unionByName(b)
      case Seq(a) => a
    }.toSeq)

  /** The schema governing the snapshot's files: the committed one, or —
    * for adopted tables that have not yet committed a schema — a merged
    * parquet inference over the snapshot's files (one-time cost; the
    * caller then commits the evolved schema, upgrading the table to
    * schema-pinned). Without this, the additive gate would silently skip
    * adopted tables and a retyped column could commit, bricking every
    * subsequent read on an unmergeable inference. */
  private def effectiveSchemaJson(spark: SparkSession, root: String,
      snap: Snapshot): String =
    snap.schemaJson.getOrElse(
      spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true")
        .parquet(snap.files.map(f => s"$root/$f"): _*).schema.json)

  /** Committed-FILE schema of `df` (partition column excluded — the hive
    * writer drops it from the data files; [[read]] re-attaches it). The
    * exclusion is case-INsensitive, matching Spark's default column
    * resolution and [[requireAdditive]]'s own rule — a batch carrying
    * `Lang` for partition column `lang` must not commit a file schema
    * still naming the column the hive writer dropped (schema-pinned
    * reads would surface a phantom all-NULL column). */
  private def fileSchemaJson(df: DataFrame, partCols: Seq[String]): String =
    org.apache.spark.sql.types.StructType(
      df.schema.filterNot(f => partCols.exists(_.equalsIgnoreCase(f.name)))).json

  /** Safe metadata-only type WIDENINGS (the Delta type-widening set,
    * restricted to pairs the Spark 4 parquet readers natively upcast at
    * scan time — pinned by SchemaEvolutionSpec): the integral chain
    * byte→short→int→long, and float→double. A table whose committed
    * column widens keeps every old parquet vintage narrow on disk; the
    * scan schema is the wide type and the readers upcast per file, so
    * the evolution costs one manifest line, never a rewrite.
    * `private[graft]`: the stream source's schema admission reuses the
    * relation to keep pre-widening vintages readable under a
    * post-widening pin. */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Int = dt match {
      case ByteType => 0; case ShortType => 1; case IntegerType => 2
      case LongType => 3; case _ => -1
    }
    (from == FloatType && to == DoubleType) ||
      (rank(from) >= 0 && rank(to) >= 0 && rank(from) < rank(to))
  }

  /** Additive-evolution gate for commits that MIX old files with new ones
    * (append, partition-scoped merge): every committed LOGICAL field must
    * keep its name and type — columns may be ADDED, never dropped or
    * retyped by a BATCH (Delta's default evolution rule). Rename and drop
    * are not batch operations but explicit metadata-only commits
    * ([[renameColumn]]/[[dropColumn]], the column-mapping layer).
    * Overwrite-commits replace every file, so they may change schema
    * freely. `allowUpcast` (every batch path) admits a batch field
    * NARROWER than the committed width — it upcasts at stage time and
    * the committed schema never moves (the Delta store-assignment
    * shape: int rows may always land in a long column). `allowWidening`
    * admits the reverse — a WIDER batch that RETYPES the committed
    * schema — and is OPT-IN per table via the `type_widening` property
    * (the Delta `enableTypeWidening` shape): a producer bug that casts
    * a column wider must not silently retype the table and
    * force-restart every pinned streaming consumer. */
  private def requireAdditive(prevJson: Option[String], nextJson: String,
      op: String, allowWidening: Boolean = false,
      allowUpcast: Boolean = false): Unit =
    prevJson.foreach { pj =>
      import org.apache.spark.sql.types.{DataType, StructType}
      val prev = DataType.fromJson(pj).asInstanceOf[StructType]
      val next = DataType.fromJson(nextJson).asInstanceOf[StructType]
      prev.foreach { f =>
        // case-insensitive name match — Spark resolves columns
        // case-insensitively by default, so a batch it would read and
        // union fine must not be rejected on letter case
        val nfOpt = next.find(_.name.equalsIgnoreCase(f.name))
        val gatedWide = !allowWidening &&
          nfOpt.exists(nf => widens(f.dataType, nf.dataType))
        require(nfOpt.exists(nf =>
          nf.dataType == f.dataType ||
            (allowWidening && widens(f.dataType, nf.dataType)) ||
            (allowUpcast && widens(nf.dataType, f.dataType))),
          s"$op: schema not additive — committed field ${f.name}: " +
            s"${f.dataType.simpleString} is missing or retyped in the " +
            "incoming batch" + (if (gatedWide)
              " (a safely wider batch needs the table's type_widening " +
                "property set to true)" else ""))
      }
    }

  /** The `type_widening` table property: opt-in for wider batches to
    * retype the committed schema on append/upsert. */
  private def wideningEnabled(snap: Snapshot): Boolean =
    kvOf(snap.notes).get("type_widening").contains("true")

  /** The LOGICAL schema of a snapshot: the committed physical schema with
    * the mapping's renames applied. What [[read]] returns and what
    * [[requireAdditive]] protects on mixed commits. */
  private def logicalSchema(phys: org.apache.spark.sql.types.StructType,
      mapping: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      phys.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** Surface a physically-named frame under its LOGICAL names (the
    * partition column, already logical, passes through). A no-op without
    * renames — the committed-schema pin already excludes dropped
    * physical columns from the scan. */
  private def applyMapping(df: DataFrame, snap: Snapshot,
      phys: org.apache.spark.sql.types.StructType): DataFrame =
    if (snap.mapping.isEmpty) df
    else df.select((phys.fields.map(f =>
      col(f.name).as(snap.mapping.getOrElse(f.name, f.name))) ++
      // partition columns not in the file schema (legacy layouts) were
      // re-attached by readGroups and must survive the projection; in
      // the single-relation layout they are phys fields already
      snap.partCols.collect {
        case (pc, _) if !phys.fields.exists(_.name.equalsIgnoreCase(pc)) =>
          col(pc)
      }).toSeq: _*)

  /** Rewrite a LOGICAL batch to PHYSICAL column names for a mixed commit
    * (append / partition-scoped merge): mapped columns rename back to
    * their in-file physical name; existing unmapped columns pass through;
    * NEW columns get physical = logical unless that name ever existed
    * physically (live or retired — re-using it would resurrect old
    * files' values), in which case a version-suffixed fresh name is
    * minted. Returns the physically-named frame, the next committed
    * physical schema (previous fields + new fields, logical order
    * growing additively at the end), and the next mapping. */
  private def toPhysical(df: DataFrame, snap: Snapshot,
      physPrev: org.apache.spark.sql.types.StructType):
      (DataFrame, org.apache.spark.sql.types.StructType, Map[String, String]) = {
    val logicalByPhys = snap.mapping
    val physByLogical = logicalByPhys.map(_.swap)
    val physNames = physPrev.fields.map(_.name).toSeq
    def ciFind(names: Iterable[String], n: String): Option[String] =
      names.find(_.equalsIgnoreCase(n))
    val taken = physNames ++ snap.retired ++ logicalByPhys.keys
    var newMapping = logicalByPhys
    val newFields = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.types.StructField]
    val selectCols = df.schema.fields.map { f =>
      if (snap.partCols.exists(_._1.equalsIgnoreCase(f.name))) col(f.name)
      else ciFind(physByLogical.keys, f.name) match {
        case Some(l) => col(f.name).as(physByLogical(l)) // mapped: rename back
        // identity only against UNMAPPED physical names: a physical name
        // already claimed by a mapping pair belongs to a DIFFERENT
        // logical column — writing a same-named new logical column into
        // it would corrupt the mapped column's files
        case None => ciFind(physNames.filterNot(logicalByPhys.contains), f.name) match {
          case Some(_) => col(f.name) // existing unmapped column
          case None => // new logical column
            // the minted name must itself be fresh against every live,
            // retired and mapped physical name AND the batch's other new
            // columns — a pre-existing physical column literally named
            // `c__v3` would otherwise be silently reused, resurrecting
            // old files' values (the exact failure `retired` prevents)
            val mintedTaken = taken ++ newFields.map(_.name)
            val phys =
              if (ciFind(mintedTaken, f.name).isEmpty) f.name
              else {
                var i = snap.version + 1
                while (ciFind(mintedTaken, s"${f.name}__v$i").isDefined) i += 1
                s"${f.name}__v$i"
              }
            newFields += org.apache.spark.sql.types.StructField(phys, f.dataType,
              nullable = true)
            if (phys != f.name) newMapping += (phys -> f.name)
            col(f.name).as(phys)
        }
      }
    }
    (df.select(selectCols.toSeq: _*),
      org.apache.spark.sql.types.StructType(physPrev.fields ++ newFields),
      newMapping)
  }

  /** Metadata-only column RENAME (Delta column-mapping semantics): the
    * logical name changes in the manifest; every data file keeps the
    * physical column untouched — zero data movement, old versions
    * unaffected, time travel intact. The partition column cannot be
    * renamed (its name is baked into the manifest partition metadata).
    * An adopted table upgrades to schema-pinned with this commit. */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String,
      note: String = "rename"): Long =
    withTable(root, "renameColumn") { snap =>
      require(!snap.partCols.exists(p => p._1.equalsIgnoreCase(from) ||
          p._1.equalsIgnoreCase(to)),
        "renameColumn: cannot rename a partition column " +
          s"(${snap.partCols.map(_._1).mkString(", ")})")
      requireUnconstrained(spark, snap.notes, from, "renameColumn")
      val phys = parseSchema(effectiveSchemaJson(spark, root, snap))
      val logical = logicalSchema(phys, snap.mapping)
      require(logical.fields.exists(_.name.equalsIgnoreCase(from)),
        s"renameColumn: no column $from (have ${logical.fieldNames.mkString(", ")})")
      require(!logical.fields.exists(_.name.equalsIgnoreCase(to)),
        s"renameColumn: column $to already exists")
      val physName = phys.fields(
        logical.fields.indexWhere(_.name.equalsIgnoreCase(from))).name
      val next =
        if (physName == to) snap.mapping - physName // renamed back to physical
        else snap.mapping - physName + (physName -> to)
      publish(root, snap)(notes = snap.notes + note, schemaJson = Some(phys.json),
        mapping = next)
    }

  /** Metadata-only column DROP: the column leaves the logical schema;
    * its physical column stays in existing data files (never read — the
    * committed-schema pin excludes it) and its physical NAME is retired
    * so a future re-add of the same logical name cannot resurrect old
    * values. Storage is reclaimed by the next full rewrite
    * ([[commitOverwrite]]/[[upsert]]/[[delete]]), same as Delta. */
  def dropColumn(spark: SparkSession, root: String, name: String,
      note: String = "drop"): Long =
    withTable(root, "dropColumn") { snap =>
      require(!snap.partCols.exists(_._1.equalsIgnoreCase(name)),
        s"dropColumn: cannot drop the partition column $name")
      requireUnconstrained(spark, snap.notes, name, "dropColumn")
      val phys = parseSchema(effectiveSchemaJson(spark, root, snap))
      val logical = logicalSchema(phys, snap.mapping)
      val idx = logical.fields.indexWhere(_.name.equalsIgnoreCase(name))
      require(idx >= 0,
        s"dropColumn: no column $name (have ${logical.fieldNames.mkString(", ")})")
      require(logical.fields.length > 1,
        "dropColumn: cannot drop the last column")
      val physName = phys.fields(idx).name
      val nextPhys = org.apache.spark.sql.types.StructType(
        phys.fields.patch(idx, Nil, 1))
      publish(root, snap)(notes = snap.notes + note, schemaJson = Some(nextPhys.json),
        mapping = snap.mapping - physName, retired = snap.retired + physName)
    }

  /** Overwrite-commit: the new version's content is exactly `df`. CAS on
    * `expected`; notes accumulate (the new manifest carries the expected
    * snapshot's notes plus `note`). Partitioned tables restage through
    * the hive writer, preserving the manifest partition metadata. */
  def commitOverwrite(spark: SparkSession, root: String, df: DataFrame,
      expected: Long, note: String = ""): Long =
    commitOverwriteNotes(spark, root, df,
      snapshot(root, expected).getOrElse(Genesis.copy(version = expected)),
      noted(note))

  /** [[commitOverwrite]] with a note-set TRANSFORM — the overwrite
    * sibling of [[commitAppendNotes]]; what lets [[replaceTable]] RESET
    * the accumulated tag ledger in the same atomic publish as the data
    * it replaced.
    *
    * `changes` — the commit's exact changed rows, built lazily — refine
    * its change-feed attribution ([[attribution]]): overwrite IS a full
    * replace, so the `cdc_full` marker is its exact attribution unless a
    * `change_feed` table gets the rows as commit-time change files.
    * `gate` is the caller's pre-publish check (mergeInto's concurrent
    * multi-match refusal). */
  private def commitOverwriteNotes(spark: SparkSession, root: String,
      df: DataFrame, parent: Snapshot, notesFn: Set[String] => Set[String],
      changes: Option[() => DataFrame] = None,
      gate: () => Unit = () => ()): Long = {
    val expected = parent.version
    val partCols = parent.partCols.map(_._1)
    partCols.foreach(pc => requireStablePartType(df, pc, "commitOverwrite"))
    // CHECK constraints validate the replacing frame — against the
    // RESULTING note set, not the parent's: a caller whose notesFn drops
    // a constraint (replaceTable / CREATE OR REPLACE resetting the
    // ledger) must not have the new content gated by the constraint the
    // commit itself removes; every carrying caller (upsert, whole-table
    // UPDATE, INSERT OVERWRITE, maintenance rewrites) enforces exactly
    // as before
    enforceConstraints(spark, df, notesFn(parent.notes), "commitOverwrite")
    // the change-file attribution can be a real write job (change_feed
    // tables derive and write the precise pre/post-image rows); it
    // depends only on the parent snapshot, so it runs CONCURRENTLY with
    // the staging write below instead of after it
    val cdcKv = prePublish(root, "overwrite change attribution")(
      attribution(root, parent.notes, changes, "cdc_full"))
    // overwrite replaces EVERY file — the upgrade point where a legacy
    // or adopted partitioned table flips to the single-relation layout
    val entries = stage(spark, root, df, partCols)
    gate()
    // CAS against exactly `expected` — anything else (e.g. latest-on-disk)
    // would publish OVER a concurrent writer's version this writer never
    // read: the textbook lost update. Overwrite replaces EVERY file, so
    // the schema may change freely (no mixed vintage to protect) and the
    // column-mapping layers reset. The partition type is re-derived from
    // the OVERWRITING frame — it replaced every file, so its type is now
    // the table's type (an adopted string-typed table upgrades to typed
    // here).
    publish(root, parent)(entries = entries,
      notes = kvMerge(notesFn(parent.notes), cdcKv()(expected + 1)),
      partCols = partCols.map(pc => (pc, df.schema(pc).dataType)),
      schemaJson = Some(fileSchemaJson(df, Seq.empty)),
      mapping = Map.empty, retired = Set.empty)
  }

  /** Append-commit: the new version is the expected snapshot's files plus
    * `df` staged as new files — no existing byte is read or rewritten. */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame,
      expected: Long, note: String = ""): Long =
    commitAppendNotes(spark, root, df,
      initialized(root, "append", snapshot(root, expected)), noted(note))

  /** [[commitAppend]] carrying replaced `kv:` properties (and optionally
    * a tag) in the same publish — the version-PINNED form a
    * [[withRetry]] writer uses when the new property values derive from
    * the expected snapshot (e.g. an index count `prev + batch`): a CAS
    * loss re-runs the caller's attempt against the fresh snapshot, so
    * the derivation can never commit against a version it didn't read.
    * ([[appendOnce]]'s kv merge alone can't promise that — its retry
    * keeps the caller's stale values.) */
  def commitAppendKv(spark: SparkSession, root: String, df: DataFrame,
      parent: Snapshot, tag: String, kv: Map[String, String],
      preStaged: Option[StagedAppend] = None): Long =
    commitAppendNotes(spark, root, df, parent,
      ns => kvMerge(if (tag.isEmpty) ns else ns + tag, kv),
      preStaged.map(ps => new StagedBox(Some(ps))))

  /** [[commitAppend]] with a note-set TRANSFORM instead of a single added
    * tag — what lets [[appendOnceMonotone]] REPLACE its high-water note
    * in the same atomic publish as the data.
    *
    * When the caller passes a `staged` box (the retrying appenders do),
    * the batch stages AT MOST ONCE per vintage across CAS retries: a
    * loser whose layout/constraint vintage still matches republishes its
    * already-written files on the fresh snapshot — manifest work only,
    * never a re-run of the batch write job (the append twin of
    * [[publishRmw]]'s rebase; an append has no read premise, so vintage
    * match IS the whole rebase check). A vintage miss (interleaved
    * schema/mapping/partitioning/CHECK-constraint change) restages —
    * [[stageAppend]] re-runs every gate, including constraint
    * enforcement against the NEW note set — and the orphaned prior
    * directory ages out via [[vacuum]] like any CAS loser's. Reuse is
    * also the stronger correctness choice for a non-deterministic batch:
    * the rows that commit are the rows that were checked, once. */
  private def commitAppendNotes(spark: SparkSession, root: String, df: DataFrame,
      snap: Snapshot, notesFn: Set[String] => Set[String],
      staged: Option[StagedBox] = None): Long = {
    val st = staged.flatMap(_.st).filter(_.vintage == vintageOf(snap))
      .getOrElse {
        val s = stageAppend(spark, root, df, snap)
        staged.foreach(_.st = Some(s))
        s
      }
    // test-only race injector (same firing point as publishRmw's): a
    // spec interleaves a winning commit between the staging decision and
    // this publish to pin the stage-once retry contract
    testRacePublishHook.foreach { h =>
      testRacePublishHook = None
      h(root)
    }
    publish(root, snap)(entries = snap.entries ++ st.entries,
      notes = notesFn(snap.notes), schemaJson = Some(st.nextPhysJson),
      mapping = st.nextMapping)
  }

  /** Mutable staged-batch memo a retrying appender threads through its
    * [[withRetry]] attempts — the mechanism behind stage-once appends. */
  private final class StagedBox(init: Option[StagedAppend]) {
    var st: Option[StagedAppend] = init
  }

  /** A batch staged for a later append: its (invisible) data-file
    * entries plus the schema/mapping the publish must carry, pinned to
    * the layout `vintage` it was staged against. Commits verify the
    * vintage and silently restage when a concurrent schema/partition
    * change landed in between; an abandoned pre-stage is an unreferenced
    * data directory — exactly a CAS loser's, reclaimed by [[vacuum]]. */
  final case class StagedAppend(entries: Seq[FileEntry],
      nextPhysJson: String, nextMapping: Map[String, String], vintage: String)

  /** The facts a staged batch depends on — any change invalidates a
    * pre-stage (schema pin, column mapping, retired set, partitioning,
    * and the CHECK-constraint set). Constraints are vintage because
    * enforcement runs at STAGE time ([[stageAppend]]): a batch staged
    * before an interleaved `addConstraint` was never validated against
    * it, so reusing those files would publish unchecked rows — the
    * vintage miss forces a restage, whose gates see the new note set. */
  private def vintageOf(snap: Snapshot): String =
    s"${snap.schemaJson}|${snap.mapping.toSeq.sorted}|" +
      s"${snap.retired.toSeq.sorted}|${snap.partCols}|" +
      // table EMPTINESS is vintage too: stagePartitioned's
      // schema-bearing placeholder decision (placeholderIfEmpty =
      // snap.entries.isEmpty) is baked into the staged batch — reusing
      // a stage after an interleaved commit flipped emptiness would
      // publish a file-less manifest (batch staged empty against a
      // non-empty table, interloper emptied it) or a phantom all-null
      // placeholder (staged against an empty table, interloper filled it)
      s"${snap.entries.isEmpty}|" +
      snap.notes.filter(_.startsWith(s"kv:$ChkPrefix")).toSeq.sorted
        .mkString(";")

  /** Stage `df` for an append against `snap`'s layout vintage WITHOUT
    * publishing — what lets a multi-action writer (the streaming sig
    * ingest) overlap the staging I/O with its other jobs and keep only
    * the manifest publish on the critical path. All append gates run
    * here (additive schema, partition-type stability, logical→physical
    * translation); the staged directory stays invisible until a commit
    * references it. */
  def stageAppend(spark: SparkSession, root: String, df: DataFrame,
      snap: Snapshot): StagedAppend = {
    // append MIXES the snapshot's files with the batch's: the committed
    // LOGICAL schema may only grow (old files surface added columns as
    // NULL). Adopted tables infer their previous schema once and upgrade
    // to schema-pinned with this commit.
    val physPrev = parseSchema(effectiveSchemaJson(spark, root, snap))
    // mixed commit: the batch stages to MATCH the table's layout vintage
    // — partition columns in the files iff the committed schema carries
    // them — so old and new files stay schema-uniform
    val inFiles = partDataInFiles(snap.partCols, Some(physPrev))
    val prevLogical = logicalSchema(physPrev, snap.mapping)
    requireAdditive(Some(prevLogical.json),
      fileSchemaJson(df,
        if (inFiles) Seq.empty else snap.partCols.map(_._1)), "commitAppend",
      allowWidening = wideningEnabled(snap), allowUpcast = true)
    // appended files mix with the snapshot's — each batch partition
    // column must carry the committed type (same stability rule as
    // upsertPartitioned; a retyped partition column would stage hive
    // paths that decode inconsistently against the manifest's values)
    snap.partCols.foreach { case (pc, dt) =>
      require(df.schema(pc).dataType == dt,
        s"commitAppend: table partition column $pc is " +
          s"${dt.simpleString}, batch brings " +
          df.schema(pc).dataType.simpleString)
    }
    // CHECK constraints gate the batch at stage time (like every other
    // append gate): a violating batch stages nothing and publishes
    // nothing — streaming sinks surface the error and retry the batch
    enforceConstraints(spark, df, snap.notes, "commitAppend")
    // TYPE WIDENING, both directions (requireAdditive admitted them):
    // a batch column NARROWER than the committed field upcasts at stage
    // time — staged files never regress below the committed width; a
    // batch column WIDER than the committed field widens the COMMITTED
    // schema instead (metadata-only: old vintages stay narrow on disk
    // and the scan upcasts them per file — how a corpus id outgrows int
    // without a table rewrite)
    val prevByName = prevLogical.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    val dfWide = df.schema.fields.foldLeft(df) { (d, bf) =>
      prevByName.get(bf.name.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(pf) if widens(bf.dataType, pf.dataType) =>
          d.withColumn(bf.name, col(bf.name).cast(pf.dataType))
        case _ => d
      }
    }
    val widenedCommit: Map[String, org.apache.spark.sql.types.DataType] =
      df.schema.fields.toSeq.flatMap { bf =>
        prevByName.get(bf.name.toLowerCase(java.util.Locale.ROOT)).collect {
          case pf if widens(pf.dataType, bf.dataType) =>
            pf.name.toLowerCase(java.util.Locale.ROOT) -> bf.dataType
        }
      }.toMap
    // the batch arrives LOGICAL; files store PHYSICAL names
    val (physDf, nextPhys0, nextMapping) = toPhysical(dfWide, snap, physPrev)
    val nextPhys =
      if (widenedCommit.isEmpty) nextPhys0
      else org.apache.spark.sql.types.StructType(nextPhys0.fields.map { f =>
        widenedCommit.get(snap.mapping.getOrElse(f.name, f.name)
            .toLowerCase(java.util.Locale.ROOT)) match {
          case Some(w) => f.copy(dataType = w)
          case None => f
        }
      })
    val entries = stage(spark, root, physDf, snap.partCols.map(_._1),
      keepInFiles = inFiles, placeholderIfEmpty = snap.entries.isEmpty)
    StagedAppend(entries, nextPhys.json, nextMapping, vintageOf(snap))
  }

  /** Default CAS-attempt budget for [[withRetry]]. 40 attempts under
    * the capped-exponential backoff is ~75 s of worst-case patience —
    * far past the point where contention is the explanation and
    * something is actually wrong with the table. */
  val DefaultCommitAttempts: Int = 40

  /** Retry loop for optimistic writers: `attempt` receives the fresh
    * latest snapshot (None for an uninitialized table) and either commits
    * (Some(newVersion)) or declines (None → the whole op returns None,
    * e.g. an already-folded tag). CAS losers re-read and retry.
    *
    * Liveness: a loser backs off exponentially with full jitter before
    * re-reading (base 25 ms doubling to a 2 s cap — the first retry is
    * immediate, since on an idle table a single stale read is the common
    * case and a sleep there only adds latency). Without the backoff, N
    * writers spinning at full speed re-collide on every round and a
    * writer can exhaust its whole budget losing back-to-back races on a
    * loaded JVM — the flake a 5-attempt no-sleep loop showed under
    * 4-writer contention. 40 attempts × the backoff schedule gives a
    * worst-case patience of ~75 s of sleep plus the attempts' own work,
    * in the spirit of Delta's minutes-scale commit retries; retries stay
    * cheap because staged data files are reused across attempts
    * (stage-once — a retry is manifest work only). */
  def withRetry[T](root: String, maxAttempts: Int = DefaultCommitAttempts)(
      attempt: Option[Snapshot] => Option[T]): Option[T] = {
    var i = 0
    while (true) {
      i += 1
      try return attempt(snapshot(root))
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (i >= maxAttempts) throw e
          if (i > 1) {
            // full jitter: uniform in [0, min(cap, base * 2^(i-2))] —
            // desynchronizes writers that lost the same race
            val ceil = math.min(2000L, 25L << math.min(i - 2, 30))
            val ms = java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(ceil + 1)
            if (ms > 0) Thread.sleep(ms)
          }
      }
    }
    None // unreachable
  }

  /** [[withRetry]] for the writers that need an existing table: every
    * attempt gets the fresh snapshot and commits. */
  private def withTable[T](root: String, op: String)(attempt: Snapshot => T): T =
    withRetry(root)(snapOpt => Some(attempt(initialized(root, op, snapOpt)))).get

  /** The one uninitialized-table refusal: writers that change an existing
    * table never create it implicitly — that would silently mint a table
    * on a typo'd path. */
  private def initialized(root: String, op: String,
      snap: Option[Snapshot]): Snapshot =
    snap.getOrElse(throw new IllegalStateException(
      s"$op on uninitialized txlog $root — create the table first " +
        "(init, or CREATE TABLE ... AS SELECT)"))

  /** The note transform of a writer's optional `note` tag. */
  private def noted(note: String): Set[String] => Set[String] =
    ns => if (note.isEmpty) ns else ns + note

  /** Plain transactional append — SQL `INSERT INTO txlog.<root>
    * <select>`. No idempotence ledger: re-running the statement appends
    * again (SQL semantics; effectively-once sinks use [[appendOnce]] /
    * [[appendOnceMonotone]]). Stage-once across CAS retries: a loser
    * whose layout/constraint vintage still matches republishes its
    * already-written files — manifest work only. Refuses an
    * uninitialized table (CREATE TABLE ... AS SELECT first — an
    * implicit create here would silently mint a table on a typo'd
    * path). */
  def insertInto(spark: SparkSession, root: String, df: DataFrame): Long = {
    val staged = new StagedBox(None)
    withTable(root, "INSERT INTO")(snap =>
      commitAppendNotes(spark, root, df, snap, identity, Some(staged)))
  }

  /** Whole-table data replace — SQL `INSERT OVERWRITE txlog.<root>
    * <select>`: the new version's rows are the select's alone while the
    * table's metadata life CARRIES (properties, CHECK constraints —
    * enforced against the replacing frame — partitioning, accumulated
    * tags). Contrast [[replaceTable]], which resets the note ledger for
    * derived-table rebuilds, and SQL `CREATE OR REPLACE TABLE`, which
    * routes there (the Delta contrast: OR REPLACE resets properties,
    * INSERT OVERWRITE keeps them). `cdc_full` attribution: the feed
    * sees removed live rows as deletes, the new frame as inserts. */
  def insertOverwrite(spark: SparkSession, root: String, df: DataFrame): Long =
    withTable(root, "INSERT OVERWRITE")(snap =>
      commitOverwriteNotes(spark, root, df, snap, identity))

  /** Keyed last-write-wins MERGE as one transactional commit: survivors
    * (anti-join) ∪ batch, published as a full overwrite version. Returns
    * the new version. Concurrent upserters serialize via CAS retry. (For
    * partitioned tables this rewrites the WHOLE table —
    * [[upsertPartitioned]] is the partition-scoped form.) */
  def upsert(spark: SparkSession, root: String, batch0: DataFrame, key: String,
      note: String = ""): Long = {
    // materialize the batch ONCE (the mergeInto discipline): the
    // anti-join's key set, the staged union and the change rows must see
    // the SAME rows — a non-deterministic batch evaluated independently
    // by each could keep a row whose key it also failed to anti-join
    // out, committing a duplicate key in one attempt
    val batch = batch0.localCheckpoint(true)
    withRetry(root) {
      case None =>
        Some(init(spark, root, batch, note))
      case Some(snap) =>
        val current = readSnapshot(spark, root, snap)
        val merged = current.join(batch.select(key), Seq(key), "left_anti")
          .unionByName(batch)
        Some(commitOverwriteNotes(spark, root, merged, snap, noted(note),
          Some(() => upsertChanges(current, batch, key))))
    }.get
  }

  /** An upsert's exact changed rows, for change_feed tables: the
    * replaced rows as pre-image deletes, the whole batch as post-image
    * inserts. */
  private def upsertChanges(current: DataFrame, batch: DataFrame,
      key: String): DataFrame =
    current.join(batch.select(key), Seq(key), "left_semi")
      .withColumn("_change_type", lit("delete"))
      .unionByName(batch.withColumn("_change_type", lit("insert")),
        allowMissingColumns = true)

  /** One conditional-MERGE clause: `cond` (None = unconditional) gates
    * `action` for its category; within a category the FIRST clause whose
    * condition is TRUE wins (SQL MERGE clause order). */
  sealed trait MergeAction
  /** `UPDATE SET c = expr, …` — empty assignments = `UPDATE SET *`
    * (every target column from the source row). */
  final case class MergeUpdate(assignments: Seq[(String, Column)] = Seq.empty)
      extends MergeAction
  case object MergeDelete extends MergeAction
  /** `INSERT *` — the source row under the target schema. */
  case object MergeInsert extends MergeAction
  /** `INSERT (cols) VALUES (exprs)` — the standard-SQL column-list
    * insert real pipelines use for defaulted columns: each named target
    * column takes its expression (cast to the target type, evaluated in
    * the NOT-MATCHED scope where only the source struct is non-NULL),
    * every unnamed column NULL. */
  final case class MergeInsertCols(cols: Seq[String], exprs: Seq[Column])
      extends MergeAction
  final case class MergeClause(cond: Option[Column], action: MergeAction)

  /** CONDITIONAL keyed MERGE — the full reconciliation shape
    * ([[upsert]] is the `UPDATE SET * / INSERT *` shorthand):
    *
    *   WHEN MATCHED [AND cond] THEN UPDATE SET … | DELETE
    *   WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols) VALUES (exprs)
    *   WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … | DELETE
    *
    * SCOPING: conditions and assignment expressions see the TARGET row's
    * columns bare and the SOURCE row as a struct named `srcAlias`
    * (default `src`) — `col("src.qty") > col("qty")` is "source qty
    * exceeds target qty". NOT-MATCHED clauses see only `srcAlias` (the
    * target side is all-NULL there); NOT-MATCHED-BY-SOURCE only bare
    * target columns. Unmatched-by-every-clause rows carry unchanged
    * (matched / by-source categories) or are ignored (not-matched).
    *
    * `targetScope` (SQL: `ON key AND <scope>`) bounds the merge to the
    * TARGET rows satisfying the predicate — the partition/key-range
    * reconciliation shape: out-of-scope rows pass through untouched, and
    * files whose stats provably hold no in-scope row carry BY REFERENCE,
    * so a BY-SOURCE reconciliation over one partition inspects that
    * partition's files, not the table. The standard Delta caveat
    * applies: a source row whose key matches only OUT-of-scope target
    * rows is NOT MATCHED (it inserts) — scope on a predicate the key
    * functionally determines, or expect SQL's answer.
    *
    * The SOURCE is MATERIALIZED ONCE (localCheckpoint) before anything
    * reads it: the multi-match check, the key-range pruning agg, the
    * join, the change-file write and every CAS retry all see the same
    * immutable rows — a non-deterministic source (rand(), a subquery
    * over a concurrently-changing table) cannot desync the pruned file
    * set from the join. Source keys must match at most one in-scope
    * target key (checked — SQL MERGE's multi-match error, scoped to
    * rows that can actually multi-match: NULL-keyed and non-matching
    * duplicate source rows legally fall to NOT MATCHED).
    *
    * The plan is ONE full-outer hash join on the key plus a projection —
    * the SQL-MERGE minimum; at 100 TB the join shuffles both sides once
    * on the key and everything downstream is narrow. Commits one
    * copy-on-write version; change attribution follows [[attribution]]:
    * exact commit-time change files (`cdc_files`) when the table sets
    * `change_feed=true`, the coarse `cdc_full` marker otherwise. A
    * partial merge that loses the publish CAS to a logically DISJOINT
    * commit (an append outside the key range, a metadata commit) rebases
    * and republishes via [[publishRmw]] without re-running the merge
    * job; only a genuine overlap recomputes.
    *
    * `schemaEvolution` (opt-in; the Delta `autoMerge` shape): a source
    * carrying ADDITIVE new columns widens the target schema IN THE SAME
    * COMMIT — the new columns append at the end (the [[toPhysical]]
    * additive discipline: fresh physical names minted under column
    * mapping, never resurrecting retired ones), rows from carried files
    * surface them as NULL (the evolve-on-read semantics every additive
    * append already has), and `UPDATE SET *` / `INSERT *` write them
    * from the source. Committed columns keep the batch gate: a source
    * missing or retyping a target column refuses exactly as before,
    * with or without the opt-in. Without it the committed schema stays
    * authoritative and extra source columns are simply out of scope. */
  def mergeInto(spark: SparkSession, root: String, source0: DataFrame,
      key: String, matched: Seq[MergeClause] = Seq.empty,
      notMatched: Seq[MergeClause] = Seq.empty,
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      srcAlias: String = "src", note: String = "",
      targetScope: Option[Column] = None,
      schemaEvolution: Boolean = false): Long = {
    require(source0.columns.exists(_.equalsIgnoreCase(key)),
      s"mergeInto: source lacks key column $key")
    matched.foreach(c => require(c.action match {
      case MergeUpdate(_) | MergeDelete => true; case _ => false
    }, "mergeInto: WHEN MATCHED takes UPDATE or DELETE"))
    notMatched.foreach(c => require(c.action match {
      case MergeInsert | MergeInsertCols(_, _) => true; case _ => false
    }, "mergeInto: WHEN NOT MATCHED takes INSERT * or INSERT (cols) VALUES"))
    notMatchedBySource.foreach(c => require(c.action match {
      case MergeUpdate(_) | MergeDelete => true; case _ => false
    }, "mergeInto: WHEN NOT MATCHED BY SOURCE takes UPDATE or DELETE"))
    notMatched.map(_.action).foreach {
      case MergeInsertCols(cs, es) =>
        require(cs.nonEmpty && cs.size == es.size,
          s"mergeInto: INSERT names ${cs.size} column(s) but VALUES has " +
            s"${es.size} expression(s)")
        require(cs.map(_.toLowerCase).distinct.size == cs.size,
          s"mergeInto: duplicate column in INSERT list $cs")
      case _ => ()
    }
    // materialize the source once — see scaladoc. localCheckpoint pins
    // the computed partitions in the block store and truncates lineage,
    // so re-evaluation is impossible by construction (the cached copy is
    // reclaimed by the ContextCleaner when the frame goes out of scope).
    val source = source0.localCheckpoint(true)
    // the source's key range: one scalar agg over the materialized
    // source — what lets footer stats prune the candidate file set below
    val keyRange: Option[Column] = scala.util.Try {
      val r = source.agg(min(col(key)), max(col(key))).head()
      if (r.isNullAt(0)) None
      else Some(col(key) >= lit(r.get(0)) && col(key) <= lit(r.get(1)))
    }.toOption.flatten
    withTable(root, "mergeInto") { snap =>
      // STATS-PRUNED PARTIAL MERGE (the Delta MERGE file-pruning shape):
      // the conjuncts bound every target row the merge can touch — the
      // scope ∧ the source key range without BY-SOURCE clauses (a file
      // excluding both provably holds no matching row), the scope alone
      // with them (BY-SOURCE inspects every IN-SCOPE row regardless of
      // key), nothing for an unscoped BY-SOURCE merge or an unprunable
      // table (no stats → all candidates). Matched, not-matched and
      // by-source then resolve against the CANDIDATE files alone, so
      // only those rewrite and everything else carries by reference: a
      // day's batch merged into a key-clustered 100 TB table rewrites
      // that day's files, not the table.
      val scopeConjuncts = targetScope.map(conjunctsOf(spark, _))
      val rangeConjuncts =
        if (notMatchedBySource.nonEmpty) Seq.empty
        else keyRange.map(conjunctsOf(spark, _)).getOrElse(Seq.empty)
      val conjuncts = scopeConjuncts.getOrElse(Seq.empty) ++ rangeConjuncts
      val (rewriteEntries, carried) =
        snap.entries.partition(entryCouldMatch(snap, conjuncts))
      val usePartial = carried.nonEmpty
      val targetAll =
        if (usePartial) readVersionSubset(spark, root, snap, rewriteEntries)
        else readSnapshot(spark, root, snap)
      // row-level scope split within the candidate files: out-of-scope
      // rows (predicate FALSE or NULL — SQL condition-not-true) pass
      // through untouched; the merge sees only the in-scope rows
      val target0 = targetScope.map(sc =>
        targetAll.filter(coalesce(sc, lit(false)))).getOrElse(targetAll)
      val passThrough0 = targetScope.map(sc =>
        targetAll.filter(!coalesce(sc, lit(false))))
      val cols0 = targetAll.columns.toSeq
      require(!cols0.exists(_.equalsIgnoreCase(srcAlias)),
        s"mergeInto: target column $srcAlias collides with the source " +
          "alias — pass a different srcAlias")
      // OPT-IN SCHEMA EVOLUTION: additive source columns widen the
      // in-flight target frame (NULL under the old vintage — exactly
      // what carried files will surface at read time) so every branch
      // below resolves against the EVOLVED schema; committed columns
      // keep their types (per-field casts below refuse incompatibles
      // the same way the append gate does)
      val extras: Seq[org.apache.spark.sql.types.StructField] =
        if (!schemaEvolution) Seq.empty
        else source.schema.fields.toSeq
          .filterNot(f => cols0.exists(_.equalsIgnoreCase(f.name)))
          .map(_.copy(nullable = true))
      extras.foreach(f => require(
        !f.name.equalsIgnoreCase(srcAlias) && !f.name.startsWith("__"),
        s"mergeInto: cannot evolve column ${f.name} — collides with the " +
          "source alias or the merge's reserved __-prefixed internals"))
      def widen(df: DataFrame): DataFrame = extras.foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      val target = widen(target0)
      val passThrough = passThrough0.map(widen)
      val cols = cols0 ++ extras.map(_.name)
      val needsAll = (matched.map(_.action) ++ notMatched.map(_.action))
        .exists { case MergeUpdate(Seq()) | MergeInsert => true; case _ => false }
      if (needsAll) cols0.foreach(c =>
        require(source.columns.exists(_.equalsIgnoreCase(c)),
          s"mergeInto: SET * / INSERT * needs source column $c"))
      notMatched.map(_.action).foreach {
        case MergeInsertCols(cs, _) => cs.foreach(c =>
          require(cols.exists(_.equalsIgnoreCase(c)),
            s"mergeInto: INSERT column $c is not a target column"))
        case _ => ()
      }
      // SQL MERGE's multi-match refusal, scoped to rows that can
      // actually multi-match: duplicate source keys among the keys
      // PRESENT in the (in-scope) target. NULL-keyed source rows never
      // match anything (legal — they fall to NOT MATCHED), and duplicate
      // keys that only fire NOT MATCHED are standard MERGE's legal
      // multi-row INSERT. The check runs CONCURRENTLY with the result
      // staging: both derive from the same pinned inputs, and it only
      // has to fire BEFORE the publish — a refused attempt abandons its
      // staged dir as a vacuumable orphan, exactly a CAS loser's.
      val noMultiMatch = prePublish(root, "MERGE multi-match check") {
        require(source.select(col(key))
          .join(target.select(col(key)).distinct(), Seq(key), "left_semi")
          .groupBy(col(key)).count()
          .filter(col("count") > 1).limit(1).count() == 0,
          s"mergeInto: multiple source rows match one target " +
            s"$key — SQL MERGE refuses a multi-match")
      }
      // ONE full-outer join: target columns ride bare, the source row as
      // a single struct column (no name collisions, and the presence
      // test is one null check per side)
      val s = source.select(
        struct(source.columns.map(col).toIndexedSeq: _*).as(srcAlias))
      val t = target.withColumn("__tgt_present", lit(true))
      // `===`, not `<=>`: SQL join semantics — a NULL key never matches,
      // so NULL-keyed target rows fall to NOT MATCHED BY SOURCE and
      // NULL-keyed source rows to NOT MATCHED
      val j = t.join(s, col(key) === col(s"$srcAlias.$key"), "full_outer")
      // the ONE row type every CASE branch casts to — NULLABLE in every
      // field: branches mix never-null target structs, null-able source
      // casts, a whole-row NULL (DELETE) and NULL defaults (column-list
      // INSERT), and a branch type that CLAIMS non-nullable while another
      // branch yields null lets codegen skip the null check and read
      // garbage zeros (silent corruption, found by the InsertCols spec)
      val rowType = org.apache.spark.sql.types.StructType(
        target.schema.fields.map(_.copy(nullable = true)))
      val keepTarget = struct(cols.map(col).toIndexedSeq: _*).cast(rowType)
      val dropRow = lit(null).cast(rowType)
      // cast each source field to the target type: SET * / INSERT * may
      // bring a widable vintage (int batch into a long column) and every
      // CASE branch must carry the identical struct type
      val srcRow = struct(cols.map(c =>
        col(s"$srcAlias.$c").cast(target.schema(c).dataType).as(c))
        .toIndexedSeq: _*).cast(rowType)
      def actionRow(a: MergeAction): Column = a match {
        case MergeDelete => dropRow
        case MergeInsert => srcRow
        case MergeUpdate(Seq()) => srcRow
        case MergeUpdate(as) => struct(cols.map { c =>
          as.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, e)) => e.cast(target.schema(c).dataType).as(c)
            case None => col(c).as(c)
          }
        }.toIndexedSeq: _*).cast(rowType)
        case MergeInsertCols(cs, es) => struct(cols.map { c =>
          cs.zip(es).find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, e)) => e.cast(target.schema(c).dataType).as(c)
            case None => lit(null).cast(target.schema(c).dataType).as(c)
          }
        }.toIndexedSeq: _*).cast(rowType)
      }
      def chain(clauses: Seq[MergeClause], default: Column,
          render: MergeAction => Column): Column =
        clauses.foldRight(default) { (cl, acc) =>
          when(cl.cond.map(_ <=> lit(true)).getOrElse(lit(true)),
            render(cl.action)).otherwise(acc)
        }
      val rowExpr =
        when(col("__tgt_present").isNotNull && col(srcAlias).isNotNull,
          chain(matched, keepTarget, actionRow))
          .when(col("__tgt_present").isNull,
            chain(notMatched, dropRow, actionRow))
          .otherwise(chain(notMatchedBySource, keepTarget, actionRow))
      val merged = j.select(rowExpr.as("__row"))
        .filter(col("__row").isNotNull)
        .select(cols.map(c => col(s"__row.$c").as(c)).toIndexedSeq: _*)
      // out-of-scope candidate-file rows ride around the join untouched
      val out = passThrough.map(merged.unionByName(_)).getOrElse(merged)
      // PRECISE change rows (change_feed tables): re-derive which clause
      // fired per row — fired UPDATE emits pre(delete)+post(insert),
      // fired DELETE the pre-image, fired INSERT the post-image; rows no
      // clause touched emit nothing (never rewrite churn)
      def changes: DataFrame = {
        val noMark = lit(null).cast("string")
        def mark(a: MergeAction): Column = a match {
          case MergeDelete => lit("d")
          case MergeInsert | MergeInsertCols(_, _) => lit("i")
          case _ => lit("u")
        }
        val markExpr =
          when(col("__tgt_present").isNotNull && col(srcAlias).isNotNull,
            chain(matched, noMark, mark))
            .when(col("__tgt_present").isNull,
              chain(notMatched, noMark, mark))
            .otherwise(chain(notMatchedBySource, noMark, mark))
        val tagged = j.select(markExpr.as("__m"), rowExpr.as("__row"),
          when(col("__tgt_present").isNotNull, keepTarget).as("__pre"))
        tagged.filter(col("__m").isin("u", "d"))
          .select(col("__pre.*")).withColumn("_change_type", lit("delete"))
          .unionByName(tagged.filter(col("__m").isin("u", "i"))
            .select(col("__row.*"))
            .withColumn("_change_type", lit("insert")))
      }
      if (!usePartial)
        commitOverwriteNotes(spark, root, out, snap, noted(note),
          Some(() => changes), gate = noMultiMatch)
      else {
        // partial publish (the deleteCow/updateWhere mixed-commit shape):
        // candidates rewrite merged, every pruned file carries by
        // reference. With schema evolution in play toPhysical appends the
        // new columns to the committed physical schema (fresh physical
        // names under mapping) — the exact additive-append commit shape,
        // so carried old-vintage files surface them as NULL
        enforceConstraints(spark, out, snap.notes, "mergeInto")
        rewritePartial(spark, root, snap,
          parseSchema(effectiveSchemaJson(spark, root, snap)), rewriteEntries, out,
          conjuncts, noted(note), () => changes, gate = noMultiMatch)
      }
    }
  }

  /** Partition-column types whose Row value `toString` matches Spark's
    * hive partition-path rendering exactly. Matching touched partitions
    * compares batch VALUES against manifest strings decoded from the
    * writer's directory names, so a type that renders differently on
    * the two paths (timestamp, float/double, decimal) would silently
    * keep AND restage the same partition — duplicate rows. Refused
    * loudly instead. */
  private val StablePartTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, IntegerType, LongType, ShortType, ByteType,
      BooleanType, DateType)
  }

  private def requireStablePartType(df: DataFrame, partCol: String,
      op: String): Unit = {
    require(!partCol.toLowerCase.startsWith(ShadowPrefix),
      s"$op: partition column $partCol collides with the reserved " +
        s"'$ShadowPrefix' shadow-staging prefix")
    require(StablePartTypes.contains(df.schema(partCol).dataType),
      s"$op: partition column $partCol has type " +
        s"${df.schema(partCol).dataType.simpleString}, whose rendering is not " +
        "stable across value/path forms (use string, integral, boolean or date)")
  }

  /** Partition-scoped keyed MERGE: only the partitions the batch touches
    * are read and rewritten; every other file is carried into the new
    * manifest BY REFERENCE — never opened, never copied. One transactional
    * commit covers all touched partitions (the per-partition-swap form
    * this replaces committed them one by one, so a crash mid-sequence
    * could land half a batch). Returns per-partition stats, ordered by
    * partition name. NULL and empty-string partition values both map to
    * the hive default partition, matching Spark's partitioned writer.
    *
    * PRECONDITION — keys must not migrate across partitions: the merge is
    * partition-scoped, so a key whose partition value CHANGES between
    * batches leaves its old row in an untouched partition the anti-join
    * never reads — the key ends up duplicated across partitions (a
    * whole-table [[upsert]] would have removed it). Same contract as a
    * partition-scoped Delta `MERGE` whose condition pins the partition:
    * use a partition column that is functionally determined by the key
    * (e.g. `lang` of a document id), or fall back to [[upsert]] when keys
    * can move. */
  def upsertPartitioned(spark: SparkSession, root: String, batch0: DataFrame,
      key: String, partCol: String, note: String = ""): Seq[PartStats] =
    upsertPartitioned(spark, root, batch0, key, Seq(partCol), note)

  /** Multi-column [[upsertPartitioned]]: the touched set is the batch's
    * distinct partition VALUE TUPLES, and only the files tagged with a
    * touched tuple are read and restaged — (date, hour) / (lang, source)
    * tables pay one (day, hour)'s worth of rewrite per hourly batch. */
  def upsertPartitioned(spark: SparkSession, root: String, batch0: DataFrame,
      key: String, partCols: Seq[String], note: String): Seq[PartStats] = {
    require(partCols.nonEmpty, "upsertPartitioned: no partition columns")
    partCols.foreach(pc => requireStablePartType(batch0, pc, "upsertPartitioned"))
    // ""→NULL first: Spark's own partitioned writer stores both under
    // __HIVE_DEFAULT_PARTITION__ and reads them back as null. The batch
    // is cached: its plan decides the touched-partition set AND the
    // staged output — an uncached nondeterministic batch could stage a
    // partition the touched set never saw, leaving its OLD files in the
    // manifest alongside the new ones (duplicate rows).
    val batch = partCols.foldLeft(batch0) { (df, pc) =>
      if (df.schema(pc).dataType == org.apache.spark.sql.types.StringType)
        df.withColumn(pc,
          when(col(pc) === "", lit(null)).otherwise(col(pc)))
      else df
    }.cache()
    val n = partCols.size
    // stats rendering: the bare value for single-column tables (the
    // round-9 shape callers already pin), hive dir style for tuples
    def partName(vals: Seq[Option[String]]): String =
      if (n == 1) vals.head.getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      else partCols.zip(vals).map { case (c, v) => s"$c=${encodePart(v)}" }
        .mkString("/")
    // per-tuple row counts of `df`, keyed by decoded value tuple
    def tupleCounts(df: DataFrame): Map[Seq[Option[String]], Long] =
      df.groupBy(partCols.map(col): _*).count().collect()
        .map(r => (0 until n).map(i =>
          Option(r.get(i)).map(_.toString).filter(_.nonEmpty)).toSeq ->
          r.getLong(n)).toMap
    try withRetry(root) {
      case None =>
        initPartitioned(spark, root, batch, partCols, note)
        Some(tupleCounts(batch).toSeq.sortBy(c => partName(c._1)).map {
          case (pv, cnt) => PartStats(partName(pv), 0L, cnt, cnt)
        })
      case Some(snap) =>
        require(snap.partCols.map(_._1) == partCols,
          s"txlog $root is partitioned by ${snap.partCols.map(_._1)}, not $partCols")
        // type stability: a batch whose partition column is typed
        // differently from the committed type would stage hive paths
        // that collide-or-miss against the manifest's decoded values
        snap.partCols.foreach { case (pc, dt) =>
          require(batch.schema(pc).dataType == dt,
            s"upsertPartitioned: table partition column $pc is " +
              s"${dt.simpleString}, batch brings " +
              batch.schema(pc).dataType.simpleString)
        }
        val touched: Seq[Seq[Option[String]]] =
          batch.select(partCols.map(col): _*).distinct().collect()
            .map(r => (0 until n).map(i =>
              Option(r.get(i)).map(_.toString).filter(_.nonEmpty)).toSeq)
            .toSeq.distinct
        val touchedTags = touched.map(encodeTuple).toSet
        val (rewrite, keep) = snap.entries.partition(e => touchedTags.contains(e.part))
        // the new version mixes kept old files with restaged ones — the
        // committed LOGICAL schema may only grow (same rule as
        // commitAppend); adopted tables infer their previous schema once
        // and upgrade. The gate runs on the BATCH's schema, before any
        // union: checked after the union, coercion would stringify a
        // retyped column and slip it past the committed-type compare.
        val physPrev = parseSchema(effectiveSchemaJson(spark, root, snap))
        val inFiles = partDataInFiles(snap.partCols, Some(physPrev))
        // type widening rides the same opt-in as commitAppend: a WIDER
        // batch (under the table's type_widening property) retypes the
        // committed schema — the union below coerces kept rows up and
        // `nextPhys` derives from the merged (wide) frame; a NARROWER
        // batch upcasts to the committed width through the same union.
        // The common real-world widening arrives through exactly this
        // keyed-upsert path (an id column outgrowing int mid-feed).
        requireAdditive(Some(logicalSchema(physPrev, snap.mapping).json),
          fileSchemaJson(batch, if (inFiles) Seq.empty else partCols),
          "upsertPartitioned",
          allowWidening = wideningEnabled(snap), allowUpcast = true)
        // CHECK constraints validate the incoming batch (survivors are
        // existing rows that already passed at their own commit)
        enforceConstraints(spark, batch, snap.notes, "upsertPartitioned")
        val current =
          if (rewrite.isEmpty) batch.limit(0)
          else applyMapping(
            readEntriesOf(spark, root, snap, rewrite,
              snap.schemaJson.map(parseSchema)), snap, physPrev)
        val beforeCounts = tupleCounts(current)
        val batchCounts = tupleCounts(batch)
        // cached: the SAME materialization feeds the after-counts and the
        // staged write, and the post-merge counts cost one aggregation
        // over it instead of one read-back job per touched partition.
        // allowMissingColumns: an additive batch carries columns the
        // current files don't have yet — their old rows fill with NULL
        // (the gate above already guarantees nothing is dropped/retyped)
        val merged = current.join(batch.select(key), Seq(key), "left_anti")
          .unionByName(batch, allowMissingColumns = true).cache()
        try {
          val (physDf, nextPhys0, nextMapping) = toPhysical(merged, snap, physPrev)
          // committed-schema WIDENING (gated by requireAdditive above):
          // toPhysical keeps existing fields at the committed width, but
          // a wider batch coerced the merged union up — the published
          // schema must match the staged files' width or the pin would
          // read wide files under a narrow schema (stageAppend's
          // widenedCommit fix-up, the upsert twin). Gate-off tables
          // never reach here wide: the batch was refused or upcast.
          val nextPhys = org.apache.spark.sql.types.StructType(
            nextPhys0.fields.map { pf =>
              val logical = snap.mapping.getOrElse(pf.name, pf.name)
              merged.schema.fields.find(_.name.equalsIgnoreCase(logical)) match {
                case Some(mf) if widens(pf.dataType, mf.dataType) =>
                  pf.copy(dataType = mf.dataType)
                case _ => pf
              }
            })
          val afterCounts = tupleCounts(merged)
          val fresh = stagePartitioned(spark, root, physDf, partCols,
            keepInFiles = inFiles, placeholderIfEmpty = keep.isEmpty)
          // CAS loss to a commit outside the touched partitions (an
          // append/upsert of OTHER partitions, a metadata commit)
          // rebases — the write scope is exact partition membership, so
          // the interloper test is the entry's partition tag, not stats
          publishRmw(root, snap,
            victims = rewrite, staged = fresh,
            readConjuncts = None,
            notesFn = noted(note),
            changes = Some(() => upsertChanges(current, batch, key)),
            interloperHot = Some(e => touchedTags.contains(e.part)))(
            schemaJson = Some(nextPhys.json), mapping = nextMapping)
          Some(touched.sortBy(partName).map { pv =>
            PartStats(partName(pv), beforeCounts.getOrElse(pv, 0L),
              afterCounts.getOrElse(pv, 0L), batchCounts.getOrElse(pv, 0L))
          })
        } finally merged.unpersist()
    }.get finally batch.unpersist()
  }

  /** Transactional targeted delete: survivors republished as a new
    * version (copy-on-write rewrite, manifest-atomic). A table whose
    * `delete_mode` property is `mor` routes to [[deleteMoR]] instead —
    * the Delta `enableDeletionVectors` shape: SQL `DELETE` statements
    * and API callers get merge-on-read deletes by flipping one table
    * property, no call-site change. A layout deleteMoR cannot carry
    * (legacy partition layout, pre-manifest vintage) falls back to
    * copy-on-write — the typed [[MoRUnsupportedException]] dispatch,
    * same as updateWhere's — instead of stranding property-routed
    * callers. Direct deleteMoR callers still get the loud refusal. */
  def delete(spark: SparkSession, root: String, victim: Column,
      note: String = ""): Long = {
    if (snapshot(root).exists(s => kvOf(s.notes).get("delete_mode").contains("mor")))
      try return deleteMoR(spark, root, victim, note)
      catch { case _: MoRUnsupportedException => }
    deleteCow(spark, root, victim, note)
  }

  private def deleteCow(spark: SparkSession, root: String, victim: Column,
      note: String): Long =
    withTable(root, "delete") { snap =>
      // SQL DELETE semantics: only rows where the predicate is TRUE are
      // removed; NULL-predicate rows survive. A bare `!victim` would drop
      // them too (!NULL is NULL, and filter keeps only TRUE).
      //
      // STATS-PRUNED PARTIAL REWRITE (the Delta DELETE shape): only
      // files whose footer/partition statistics admit a TRUE victim row
      // are read and restaged minus their victims; every other file
      // carries into the new version BY REFERENCE. A targeted delete on
      // a clustered key costs O(matching files), not an O(table)
      // rewrite — at 100 TB the difference between rewriting one day's
      // files and rewriting the lake. Unprunable predicates (no
      // col-vs-literal conjuncts, no stats) keep the whole-table
      // rewrite: absence of stats changes cost, never semantics.
      val conjuncts = conjunctsOf(spark, victim)
      val (rewrite, carried) =
        snap.entries.partition(entryCouldMatch(snap, conjuncts))
      if (rewrite.isEmpty) {
        // no file can contain a victim: metadata-only version bump
        // preserves the every-delete-commits contract at zero data I/O
        publish(root, snap)(notes = noted(note)(snap.notes))
      } else if (carried.isEmpty) {
        val survivors = readSnapshot(spark, root, snap)
          .filter(not(victim <=> lit(true)))
        commitOverwriteNotes(spark, root, survivors, snap, noted(note),
          Some(() => readSnapshot(spark, root, snap).filter(victim <=> lit(true))
            .withColumn("_change_type", lit("delete"))))
      } else {
        // candidates read LOGICAL, victims dropped
        val physPrev = parseSchema(effectiveSchemaJson(spark, root, snap))
        val candPhys = readEntriesOf(spark, root, snap, rewrite, Some(physPrev))
        val candLogical =
          if (snap.mapping.isEmpty) candPhys
          else applyMapping(candPhys, snap, physPrev)
        rewritePartial(spark, root, snap, physPrev, rewrite,
          candLogical.filter(not(victim <=> lit(true))), conjuncts, noted(note),
          () => candLogical.filter(victim <=> lit(true))
            .withColumn("_change_type", lit("delete")))
      }
    }

  /** The stats-pruning conjuncts of a predicate — empty (prune nothing)
    * when it cannot be split. */
  private def conjunctsOf(spark: SparkSession, c: Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    scala.util.Try(Stats.splitConjuncts(
      org.apache.spark.sql.graftbridge.Bridge.expression(spark, c)))
      .getOrElse(Seq.empty)

  /** The PARTIAL REWRITE commit of DELETE, UPDATE and MERGE: `out`, the
    * logical rows replacing the `victims` the statement read, restages
    * PHYSICAL to the table's layout vintage — a mixed commit like
    * commitAppend, never the overwrite path, which may reset schema and
    * mapping — and every other file carries by reference. The carried
    * files keep the table non-empty, so a zero-row restage needs no
    * schema placeholder. A CAS loss to a logically disjoint commit (an
    * append whose rows cannot match `readConjuncts`, a metadata commit)
    * REBASES instead of re-running the rewrite (see [[publishRmw]]). */
  private def rewritePartial(spark: SparkSession, root: String, snap: Snapshot,
      physPrev: org.apache.spark.sql.types.StructType, victims: Seq[FileEntry],
      out: DataFrame,
      readConjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      notesFn: Set[String] => Set[String], changes: () => DataFrame,
      gate: () => Unit = () => ()): Long = {
    val (physDf, physNext, mapNext) = toPhysical(out, snap, physPrev)
    val staged = stage(spark, root, physDf, snap.partCols.map(_._1),
      keepInFiles = partDataInFiles(snap.partCols, Some(physPrev)),
      placeholderIfEmpty = false)
    publishRmw(root, snap, victims, staged, Some(readConjuncts), notesFn,
      Some(changes), gate = gate)(schemaJson = Some(physNext.json), mapping = mapNext)
  }

  /** CHANGE ATTRIBUTION — what lets [[readChanges]] never refuse a
    * rewrite commit this code wrote. Three version-PINNED kv markers
    * (the value names the committing version, so the copies the note
    * set carries forward are inert):
    *
    *  - `kv:cdc_noop:<v>` — row-preserving maintenance rewrite (compact,
    *    OPTIMIZE / z-order): logical content identical to the parent;
    *    the change feed emits NOTHING for the version. Zero cost.
    *  - `kv:cdc_full:<v>` — the removed files' live rows (read at the
    *    parent, dv-applied) are exact pre-image deletes and the added
    *    files exact post-image inserts. Emitted by overwrite-shaped
    *    commits (replaceTable, restore, raw overwrite) where it is the
    *    exact logical change, and by COW DML / upserts on tables WITHOUT
    *    `change_feed` — there it is coarse (a restaged survivor reads as
    *    delete+insert of the identical row: net effect exact, rewrite
    *    churn included) but never a refusal. Zero extra bytes either way.
    *  - `kv:cdc_files:<v>:<dir>` — the commit wrote its EXACT changed
    *    rows, tagged `_change_type` ∈ {insert, delete}, to change files
    *    under `data/cdc-*` at commit time (the public Delta CDF shape).
    *    Enabled per table by the `change_feed=true` property; written by
    *    COW DELETE/UPDATE and upserts, O(changed rows) extra I/O. The
    *    feed then reads the files and ignores the rewrite entirely.
    *
    * MoR commits need none of this: deleteMoR's grown vectors are exact,
    * and updateMoR pins `cdc_rowlevel` (adds are pure post-images).
    *
    * The change files are sized by bytes, not by the change frame's
    * input partitions: a REBALANCE hint lets AQE coalesce the write to
    * its advisory partition size, so a handful of changed rows is one
    * file, not one per partition the rewrite happened to read. */
  private def writeCdcFiles(root: String, changes: DataFrame): String = {
    val dir = s"data/cdc-${java.util.UUID.randomUUID().toString.take(12)}"
    changes.hint("rebalance").write.mode("overwrite").parquet(s"$root/$dir")
    dir
  }

  private def wantsChangeFiles(notes: Set[String]): Boolean =
    kvOf(notes).get("change_feed").contains("true")

  /** Typed refusal from the MERGE-ON-READ writers ([[deleteMoR]] /
    * [[updateMoR]]) for statements or table layouts MoR cannot express —
    * a retyping SET, a legacy partition layout, a pre-manifest read
    * layout. Extends IllegalArgumentException so direct callers keep the
    * loud argument-error contract, while the `delete_mode` /
    * `update_mode` = mor property routing dispatches on this TYPE to
    * fall back to copy-on-write — a reworded refusal message can never
    * silently disable the fallback (the round-12 substring hazard). */
  final class MoRUnsupportedException(msg: String)
      extends IllegalArgumentException(msg)

  /** Publish a MoR commit's position frame as the ONE-file sidecar a
    * manifest entry points at, enforcing the [[DvBroadcastRows]] budget
    * AT WRITE TIME. The `repartition(1)` publish is deliberately a
    * single task — bounded by the budget, that is tens of MB — but
    * nothing used to refuse past it: a huge MoR delete silently funneled
    * multi-GB through one task (and then cost the read side a shuffled
    * anti-join forever after). Now the budget is a gate:
    *
    *  - FREE upper bound first: every candidate file's manifest row
    *    count (victims ≤ live rows ≤ rows) plus the carried prior
    *    positions. Under budget → write directly, zero extra jobs —
    *    the common case pays nothing for the guard.
    *  - Otherwise ONE exact count over the (two-column) position frame,
    *    persisted so the subsequent write reuses it. Past the budget →
    *    typed [[MoRUnsupportedException]]: a statement vectoring this
    *    many rows should rewrite files, not defer them — and the typed
    *    refusal means property-routed SQL DELETE/UPDATE callers fall
    *    back to copy-on-write automatically, while direct deleteMoR /
    *    updateMoR callers get the loud refusal with guidance.
    *
    * Returns (sidecar rel path, per-file position counts) — the counts
    * are read back from the written file, validating the publish. */
  private def writeDvSidecar(spark: SparkSession, root: String,
      allPos: DataFrame, cand: Seq[FileEntry], priorRows: Long,
      opName: String): (String, Map[String, Long]) = {
    val budget = DvBroadcastRows
    val upperBound: Option[Long] =
      if (cand.forall(_.stats.isDefined)) Some(cand.map(_.stats.get.rows).sum + priorRows)
      else None
    val (toWrite, cached) =
      if (upperBound.exists(_ <= budget)) (allPos, false)
      else {
        val c = allPos.persist()
        val n = c.count()
        if (n > budget) {
          c.unpersist()
          throw new MoRUnsupportedException(
            s"$opName: $n deletion-vector positions exceed the single-file " +
              s"sidecar budget ($budget) — a statement deleting this much " +
              "should rewrite files, not vector them: use the copy-on-write " +
              "path (delete()/updateWhere), or compact() to purge accumulated " +
              "vectors first")
        }
        (c, true)
      }
    val dvDir = s"data/dv-${java.util.UUID.randomUUID().toString.take(12)}"
    try toWrite.repartition(1).write.mode("overwrite").parquet(s"$root/$dvDir")
    finally if (cached) toWrite.unpersist()
    val dvFile = Option(new java.io.File(s"$root/$dvDir").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq match {
      case Seq(one) => s"$dvDir/${one.getName}"
      case other => throw new IllegalStateException(
        s"$opName: expected one sidecar file, found ${other.size}")
    }
    val counts = readFiles(spark, Seq(s"$root/$dvFile"),
      Some(DvSidecarSchema))
      .groupBy("f").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (dvFile, counts)
  }

  /** Prior DV positions a MoR commit must carry forward: each touched
    * entry's positions read from ITS OWN sidecar only. Reading every
    * distinct prior sidecar semi-joined against the FULL candidate path
    * set (the round-12 shape) duplicated a path whose positions live in
    * two sidecars — accumulation copies an older sidecar's rows for a
    * file into the newer one it re-points at, so when candidates span
    * commits that touched different file subsets, both sidecars still
    * hold the older rows. The duplicate rows inflated `counts`, and an
    * inflated count reaching `stats.rows` dropped an entry that still
    * had live rows (silent data loss). Grouping by each entry's own
    * sidecar pointer reads every position exactly once. */
  private def carryPriorDvPositions(spark: SparkSession, root: String,
      prior: Seq[FileEntry]): DataFrame =
    prior.groupBy(_.dv.get._1).toSeq.map { case (sc, es) =>
      readFiles(spark, Seq(s"$root/$sc"), Some(DvSidecarSchema))
        .filter(col("f").isin(es.map(_.path): _*))
    }.reduce(_.unionByName(_))

  /** MERGE-ON-READ targeted delete — deletion vectors (the Delta/Iceberg
    * v2 position-delete shape). Instead of rewriting every file that
    * holds a victim row (copy-on-write: O(candidate file bytes) written
    * for possibly a handful of rows), the commit records the victims'
    * (file, row-index) positions in a small parquet SIDECAR and points
    * each touched entry's `dv` field at it; [[readEntriesOf]] anti-joins
    * the positions out of every subsequent scan. Cost model at 100 TB:
    * a targeted delete writes O(deleted rows), not O(files straddling
    * the predicate) — the difference between a compliance-delete of one
    * user's rows costing kilobytes vs rewriting a terabyte tier. Reads
    * pay one broadcast anti-join on the one-long position key
    * ([[DvKeyCol]], so no Tungsten page per read) while vectors are
    * live; [[compact]] / OPTIMIZE purges them (restages survivors, drops the dv), restoring
    * zero-overhead scans — the standard MoR maintenance contract.
    *
    * Semantics are identical to [[delete]] (SQL DELETE: TRUE-predicate
    * rows go, NULL-predicate rows survive; every call commits a version;
    * stats-pruning narrows the candidate set). Repeated MoR deletes
    * ACCUMULATE: each commit writes one fresh sidecar carrying the
    * touched files' prior positions plus the new victims (prior sidecars
    * remain referenced only by untouched entries and age out via
    * pruneHistory + vacuum). A file whose every row is deleted drops
    * from the manifest outright when footer stats prove it empty.
    * Requires the manifest-fed read layout (committed schema + sizes;
    * partition columns in the files) — legacy adopted layouts keep
    * copy-on-write.
    *
    * `kvFn` — replaced `kv:` properties derived from the attempt's FRESH
    * snapshot and published atomically with the delete (the
    * [[commitAppendKv]] discipline: a CAS loss re-runs the derivation, so
    * a maintained counter — an index's `kv:n` — can never commit against
    * a version the writer didn't read). May run Spark jobs. */
  def deleteMoR(spark: SparkSession, root: String, victim: Column,
      note: String = "",
      kvFn: Snapshot => Map[String, String] = _ => Map.empty): Long =
    deleteMoRImpl(spark, root, note, kvFn,
      pruneWith = victim,
      selectVictims = _.filter(victim <=> lit(true)))

  /** [[deleteMoR]] with the victim set held in a DATAFRAME instead of a
    * literal predicate — the distributed right-to-be-forgotten shape.
    * Deletes every row whose `keyCol` appears in `keys` (IN semantics:
    * NULL keys never match). The key set never visits the driver: the
    * victim selection is a semi-join of the DV-applied candidates
    * against `keys`, so a feed-sized forget batch (millions of ids at
    * 100 TB) plans as one join, not a million-element In literal. File
    * pruning still works when the key domain is bounded: the keys' OWN
    * min/max (one scalar agg) becomes a range conjunct against the
    * footer stats. Callers reusing `keys` across CAS retries should
    * cache it. */
  def deleteMoRKeys(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame, note: String = "",
      kvFn: Snapshot => Map[String, String] = _ => Map.empty): Long = {
    require(keys.columns.exists(_.equalsIgnoreCase(keyCol)),
      s"deleteMoRKeys: keys frame lacks column $keyCol")
    val k = keys.select(col(keyCol)).distinct()
    // range conjunct from the key set itself: a clustered delete (one
    // day's ids, one tenant's range) skips files whose stats exclude it
    val pruneWith = scala.util.Try {
      val r = k.agg(min(col(keyCol)), max(col(keyCol))).head()
      if (r.isNullAt(0)) lit(true)
      else col(keyCol) >= lit(r.get(0)) && col(keyCol) <= lit(r.get(1))
    }.getOrElse(lit(true))
    deleteMoRImpl(spark, root, note, kvFn,
      pruneWith = pruneWith,
      selectVictims = df => df.join(k, df(keyCol) === k(keyCol), "left_semi"))
  }

  /** ATOMIC keyed replace, merge-on-read: ONE commit deletion-vectors
    * every live row whose `keyCol` appears in `keys` AND appends `adds`
    * as new files — the "re-state these documents" primitive an
    * incremental index fold wants. The two-commit form (deleteMoRKeys
    * then commitAppend) leaves a window where readers see the corpus
    * WITHOUT the touched keys and pays two manifest publishes plus a
    * replay-tag ledger for the crash between them; here there is no
    * window, no partial state to replay around, and the adds STAGE
    * concurrently with the victim-position jobs (staged files are
    * invisible until the manifest references them, so an abort leaves
    * only a vacuumable orphan). All append gates run on `adds` at stage
    * time (additive schema, widening, CHECK constraints). `adds` rows
    * whose keys are in `keys` cannot double-state: their prior rows are
    * vectored out in the same manifest.
    *
    * DETERMINISM REQUIREMENT on `keys`: the frame is evaluated more than
    * once (the eager min/max range conjunct for file pruning here, the
    * per-attempt victim semi-join inside the retry loop, and the
    * caller's kvFn may re-derive from it) — a NON-deterministic keys
    * frame (rand-sampled, re-read from mutating storage, an evicted
    * cache recomputing differently) can make the pruning range exclude
    * files holding keys a later evaluation selects, leaving stale rows
    * alive while `adds` re-states them. Callers with any doubt must
    * materialize first (`keys.localCheckpoint()` — the mergeInto
    * discipline) or pass a frame derived from immutable inputs; the
    * internal fold caller pins its keys frame for exactly this reason. */
  def replaceKeysMoR(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame, adds: DataFrame, note: String = "",
      kvFn: Snapshot => Map[String, String] = _ => Map.empty): Long = {
    require(keys.columns.exists(_.equalsIgnoreCase(keyCol)),
      s"replaceKeysMoR: keys frame lacks column $keyCol")
    val k = keys.select(col(keyCol)).distinct()
    val pruneWith = scala.util.Try {
      val r = k.agg(min(col(keyCol)), max(col(keyCol))).head()
      if (r.isNullAt(0)) lit(true)
      else col(keyCol) >= lit(r.get(0)) && col(keyCol) <= lit(r.get(1))
    }.getOrElse(lit(true))
    deleteMoRImpl(spark, root, note, kvFn,
      pruneWith = pruneWith,
      selectVictims = df => df.join(k, df(keyCol) === k(keyCol), "left_semi"),
      adds = Some(adds))
  }

  private def deleteMoRImpl(spark: SparkSession, root: String,
      note: String, kvFn: Snapshot => Map[String, String],
      pruneWith: Column, selectVictims: DataFrame => DataFrame,
      adds: Option[DataFrame] = None): Long =
    withTable(root, "delete") { snap =>
      val phys = morSchema(root, snap, "deleteMoR", "delete")
      val cand = snap.entries.filter(entryCouldMatch(snap, conjunctsOf(spark, pruneWith)))
      // replaceKeysMoR adds stage CONCURRENTLY with the victim-position
      // jobs below; all append gates (additive schema, widening,
      // constraints) run inside stageAppend, per attempt
      val stagedAdds = adds.map(a =>
        prePublish(root, "replaceKeysMoR stage")(stageAppend(spark, root, a, snap)))
      // kvFn derives from the PINNED snapshot alone (it may run Spark
      // jobs — the index fold's count maintenance does), so it runs
      // concurrently too instead of adding its own job to the attempt's
      // sequential chain
      val notesOut = prePublish(root, "MoR kvFn")(
        kvMerge(noted(note)(snap.notes), kvFn(snap)))
      val next =
        if (cand.isEmpty) None
        else dvCommit(spark, root, snap, cand,
          selectVictims(withPositions(spark, root, snap, cand, Some(phys))),
          "deleteMoR", keepOne = true)
      val st = stagedAdds.map(_())
      publish(root, snap)(
        entries = next.getOrElse(snap.entries) ++ st.toSeq.flatMap(_.entries),
        notes = notesOut(),
        schemaJson = st.fold(snap.schemaJson)(a => Some(a.nextPhysJson)),
        mapping = st.fold(snap.mapping)(_.nextMapping))
    }

  /** The MERGE-ON-READ layout gate of [[deleteMoR]] and [[updateMoR]]:
    * deletion vectors need the manifest-fed read layout (committed schema
    * and sizes; partition columns in the files). Returns the committed
    * physical schema; the typed refusal names `cow`, the copy-on-write
    * writer that can carry the statement instead. */
  private def morSchema(root: String, snap: Snapshot, op: String,
      cow: String): org.apache.spark.sql.types.StructType = {
    val schema = snap.schemaJson.map(parseSchema)
    if (!(snap.partCols.isEmpty || partDataInFiles(snap.partCols, schema)))
      throw new MoRUnsupportedException(
        s"$op: legacy partition layout at $root cannot carry deletion " +
          s"vectors — a full overwrite upgrades the layout, or use $cow()")
    if (!(schema.isDefined && snap.entries.forall(_.size.isDefined)))
      throw new MoRUnsupportedException(
        s"$op: table at $root predates the manifest-fed read layout")
    schema.get
  }

  /** `entries`' rows under their LOGICAL names plus each row's position
    * key ([[DvKeyCol]], ordinals = indices into `entries`), with the entries' own
    * deletion vectors applied — so a MoR writer evaluates victims on
    * live rows only and an already-deleted row never re-enters a
    * sidecar; strip the vectors first to read raw positions. */
  private def withPositions(spark: SparkSession, root: String, snap: Snapshot,
      entries: Seq[FileEntry],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val pos = readEntriesOf(spark, root, snap, entries, schema, keepPos = true)
    if (snap.mapping.isEmpty) pos
    else pos.select((schema.get.fields.map(f =>
      col(f.name).as(snap.mapping.getOrElse(f.name, f.name))) :+
      col(DvKeyCol)).toSeq: _*)
  }

  /** THE DELETION-VECTOR COMMIT shared by [[deleteMoR]] and
    * [[updateMoR]]: `victims` (rows of [[withPositions]] over the
    * candidates `cand`) become positions in ONE new sidecar — their keys
    * decode to (f, p) by an array index over `cand` ([[sidecarRow]]), no
    * join, where a broadcast join on the scan's file path used to build
    * a page-backed relation per commit — which also
    * carries the candidates' prior positions ([[carryPriorDvPositions]])
    * under the [[writeDvSidecar]] budget. None when no new position
    * landed: the sidecar is removed again (a CAS-loser-shaped orphan
    * otherwise) and the caller publishes a metadata-only bump. Else the
    * parent's entry list with every candidate re-pointed at the new
    * sidecar, and a file whose every row is now deleted dropped when its
    * footer stats prove it. `keepOne` guards a commit that adds no file:
    * it never publishes an empty file list (readSnapshot's contract) —
    * if every entry proved fully deleted, they all stay, vectored to
    * zero live rows. */
  private def dvCommit(spark: SparkSession, root: String, snap: Snapshot,
      cand: Seq[FileEntry], victims: DataFrame, op: String,
      keepOne: Boolean): Option[Seq[FileEntry]] = {
    val newPos = victims.select(sidecarRow(col(DvKeyCol), cand): _*)
    val prior = cand.filter(_.dv.isDefined)
    val priorRows = prior.map(_.dv.get._2).sum
    val allPos =
      if (prior.isEmpty) newPos
      else newPos.unionByName(carryPriorDvPositions(spark, root, prior))
    val (dvFile, counts) = writeDvSidecar(spark, root, allPos, cand, priorRows, op)
    if (counts.values.sum == priorRows) {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$root/$dvFile").getParentFile)
      None
    } else {
      def vectored(e: FileEntry, c: Long) = e.copy(dv = Some((dvFile, c)))
      val next = snap.entries.flatMap { e =>
        counts.get(e.path) match {
          case None => Some(e)
          case Some(c) if e.stats.exists(_.rows == c) => None // all gone
          case Some(c) => Some(vectored(e, c))
        }
      }
      Some(if (next.nonEmpty || !keepOne) next
        else snap.entries.map(e => counts.get(e.path).fold(e)(vectored(e, _))))
    }
  }

  /** MERGE-ON-READ targeted UPDATE — the [[deleteMoR]] machinery
    * extended with the replacement rows: ONE commit records the matched
    * rows' positions in a deletion-vector sidecar (their files stay
    * byte-untouched) AND appends the assignment-applied rows as new
    * files. Cost at 100 TB: O(changed rows) written — an UPDATE touching
    * 0.1% of a tier writes that 0.1%, where the copy-on-write
    * [[updateWhere]] restages every candidate file. A pleasant
    * consequence: [[readChanges]] attributes such a commit EXACTLY —
    * the grown vectors read as the pre-image deletes, the appended files
    * as the post-image inserts (textbook CDC, no extra recording).
    *
    * Semantics are [[updateWhere]]'s (SQL UPDATE: assignments evaluate
    * against the ORIGINAL row, NULL-condition rows unmatched; every call
    * commits). A retyping SET is refused — the appended files must stay
    * schema-uniform with the candidates they logically replace (use
    * updateWhere, whose full rewrite may retype). Partition-column
    * assignments are fine: the replacement rows restage into their new
    * hive partitions. Requires the manifest-fed layout, like deleteMoR. */
  def updateMoR(spark: SparkSession, root: String, cond: Column,
      assignments: Seq[(String, Column)], note: String = ""): Long = {
    require(assignments.nonEmpty, "updateMoR: no SET assignments")
    withTable(root, "update") { snap =>
      val phys = morSchema(root, snap, "updateMoR", "updateWhere")
      val cand = snap.entries.filter(entryCouldMatch(snap, conjunctsOf(spark, cond)))
      def bump(): Long = publish(root, snap)(notes = noted(note)(snap.notes))
      if (cand.isEmpty) bump()
      else {
        val logical = withPositions(spark, root, snap, cand, Some(phys))
        assignments.foreach { case (c, _) =>
          require(logical.columns.exists(_.equalsIgnoreCase(c)),
            s"updateMoR: no column $c")
        }
        // matched ORIGINAL rows, cached: they feed both the position
        // sidecar and the replacement-row staging
        val victims = logical.filter(cond <=> lit(true)).cache()
        try {
          // replacement rows: assignments against the original row —
          // every row here matched, so the expressions apply directly.
          // Built (and the retype gate run) BEFORE any staging I/O, so a
          // refusal costs nothing and the property-routed updateWhere
          // fallback to copy-on-write is cheap.
          val original = victims.drop(DvKeyCol)
          val updated = original.select(original.columns.map { c =>
            assignments.find(_._1.equalsIgnoreCase(c)) match {
              case Some((_, e)) => e.as(c)
              case None => col(c)
            }
          }.toSeq: _*)
          def typesOf(df: DataFrame) = df.schema.fields
            .map(f => (f.name.toLowerCase, f.dataType)).toSeq
          if (typesOf(updated) != typesOf(original))
            throw new MoRUnsupportedException(
              "updateMoR: retyping SET — the appended rows must stay " +
                "schema-uniform with the files they replace; use updateWhere")
          // the replacement rows STAGE concurrently with the
          // position/sidecar jobs (the replaceKeysMoR discipline). The
          // CHECK-constraint gate runs inside the work, before any
          // staging I/O, and a violation refuses at the await (the bump
          // path never publishes `updated` rows — with zero victims the
          // frame is empty and cannot violate anything). The retype
          // gate above stays synchronous so the property-routed
          // copy-on-write fallback never pays staging.
          val staged = prePublish(root, "updateMoR stage") {
            enforceConstraints(spark, updated, snap.notes, "updateMoR")
            val (physDf, _, _) = toPhysical(updated, snap, phys)
            stage(spark, root, physDf, snap.partCols.map(_._1),
              placeholderIfEmpty = false)
          }
          dvCommit(spark, root, snap, cand, victims, "updateMoR", keepOne = false) match {
            case None => bump()
            case Some(next) =>
              // version-pinned CDC marker: THIS commit's added files hold
              // only post-image rows (never carried survivors), so the
              // change feed may attribute it row-level even when a fully
              // updated file drops (adds + removes in one commit — the
              // shape readChanges otherwise refuses as a rewrite)
              publish(root, snap)(entries = next ++ staged(),
                notes = kvMerge(noted(note)(snap.notes),
                  Map("cdc_rowlevel" -> (snap.version + 1).toString)))
          }
        } finally victims.unpersist()
      }
    }
  }

  /** Metadata-only table-property commit (`ALTER TABLE ... SET
    * TBLPROPERTIES`): replace-merges `kv` into the note set — the
    * `delete_mode = mor` switch and friends land atomically as their own
    * version, zero data I/O. */
  def setProperties(root: String, kv: Map[String, String]): Long = {
    require(kv.nonEmpty, "setProperties: no properties")
    withTable(root, "setProperties")(snap =>
      publish(root, snap)(notes = kvMerge(snap.notes, kv)))
  }

  /** ANALYZE TABLE (the Spark/Delta `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS` shape): ONE aggregation pass over the
    * current snapshot computes per-column NDV, null count, min and max
    * plus the exact row count, and publishes them as kv table
    * properties in ONE metadata-only commit pinned to the analyzed
    * version (`stats_v` — staleness is visible as stats_v < current,
    * never silent). NDV is `approx_count_distinct` BY DESIGN: exact NDV
    * at 100 TB is a full shuffle per column, and every engine's ANALYZE
    * (Spark CBO, Delta, Trino) stores the HLL estimate for exactly that
    * reason; nulls/min/max/rowcount are exact. The stats are advisory —
    * AQE drives runtime re-planning on the scored shapes; this surface
    * serves ad-hoc inspection (`DESCRIBE STATS`) and is the storage
    * half of CBO join-reorder wiring should the tables ever register in
    * a catalog. Returns the published version. */
  def analyzeTable(spark: SparkSession, root: String,
      columns: Seq[String] = Seq.empty): Long = {
    val snap = initialized(root, "analyzeTable", snapshot(root))
    val df = readSnapshot(spark, root, snap)
    val all = df.schema.fields.map(_.name).toSeq
    val cols = if (columns.isEmpty) all else columns.map { c =>
      all.find(_.equalsIgnoreCase(c)).getOrElse(throw new
        IllegalArgumentException(s"analyzeTable: no column $c " +
          s"(have ${all.mkString(", ")})"))
    }
    cols.foreach(c => require(c.matches("[A-Za-z0-9_]+"),
      s"analyzeTable: column name $c cannot key a kv property"))
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      approx_count_distinct(col(c)).as(s"__ndv_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    // min/max are URL-encoded into the single-line kv value (a string
    // column's extremum may contain the separator or a newline)
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val kv = Map(
      "stats_v" -> snap.version.toString,
      "stats_fp" -> entriesFp(snap),
      "stats_rows" -> row.getAs[Long]("__n").toString) ++
      cols.map { c =>
        val mn = Option(row.getAs[String](s"__min_$c")).map(enc).getOrElse("")
        val mx = Option(row.getAs[String](s"__max_$c")).map(enc).getOrElse("")
        s"cstat_$c" -> (s"${row.getAs[Long](s"__ndv_$c")}," +
          s"${row.getAs[Long](s"__nulls_$c")},$mn,$mx")
      }
    setProperties(root, kv)
  }

  /** Data fingerprint of a snapshot — the sorted entry paths plus their
    * deletion-vector pointers, hashed. Metadata-only commits (property
    * sets, constraint adds, the ANALYZE publish itself) carry the entry
    * list forward unchanged, so the fingerprint is STABLE across them,
    * while any commit that changes what a read returns (append, delete,
    * MoR vectors, compact, restore) changes it. This is what makes
    * ANALYZE stats usable at PLAN time: `stats_v < current` alone cannot
    * distinguish "stale because data changed" from "newer metadata
    * commit" — the fingerprint can. */
  private def entriesFp(snap: Snapshot): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    snap.entries
      .map(e => e.path + e.dv.map(d => s"#${d._1}:${d._2}").getOrElse(""))
      .sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** The EXACT analyzed row count of `snap`, provided the stats are
    * FRESH — recorded over the same data the snapshot reads (entry
    * fingerprint match; see [[entriesFp]]). None when never analyzed,
    * analyzed before the fingerprint existed, or any data-changing
    * commit landed since the ANALYZE. This is the plan-time CONSUMER
    * side of [[analyzeTable]]: the SQL frontend sizes txlog relations
    * with it (an analyzed dim under the broadcast threshold joins
    * broadcast even when its on-disk bytes alone would not qualify). */
  def freshStatsRows(snap: Snapshot): Option[Long] = {
    val kv = kvOf(snap.notes)
    kv.get("stats_fp").filter(_ == entriesFp(snap))
      .flatMap(_ => kv.get("stats_rows"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
  }

  /** Plan-time size estimate for a manifest-fed relation when FRESH
    * ANALYZE stats exist: exact row count × Catalyst defaultSize row
    * width. Returned ONLY when it SHRINKS the estimate below the summed
    * compressed file bytes (`fileBytes` — the subset actually being
    * read, so a pruned read never inherits a whole-table figure larger
    * than its own files): the hint may flip a join TO broadcast on
    * stats evidence, never suppress a broadcast the file sizes already
    * justify. Consumed by the DataFrame path through
    * `FileIndex.sizeInBytes` — the SQL frontend's explicit hint and
    * this relation-level estimate always agree (same rows, same width,
    * same threshold). */
  private def statsSizeHint(snap: Snapshot,
      schema: org.apache.spark.sql.types.StructType,
      fileBytes: Long): Option[Long] =
    freshStatsRows(snap).flatMap { rows =>
      val width = 8L + schema.fields.map(_.dataType.defaultSize.toLong).sum
      val est = rows * width
      if (est > 0 && est < fileBytes) Some(est) else None
    }

  /** The stored column statistics of the CURRENT snapshot as a frame
    * (column, ndv, nulls, vmin, vmax) — the read side of
    * [[analyzeTable]] / `DESCRIBE STATS`. Empty when never analyzed;
    * the analyzed version and exact row count ride as `stats_v` /
    * `stats_rows` in [[kvOf]] for staleness checks. */
  def describeStats(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(root).getOrElse(throw new IllegalStateException(
      s"no committed version at $root"))
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    kvOf(snap.notes).toSeq.collect {
      case (k, v) if k.startsWith("cstat_") =>
        val parts = v.split(",", -1)
        (k.stripPrefix("cstat_"), parts(0).toLong, parts(1).toLong,
          if (parts(2).isEmpty) null else dec(parts(2)),
          if (parts(3).isEmpty) null else dec(parts(3)))
    }.sortBy(_._1).toDF("column", "ndv", "nulls", "vmin", "vmax")
  }

  /** CHECK constraint note-key prefix: `kv:chk_<name>:<exprSql>`. */
  private val ChkPrefix = "chk_"

  /** The table's CHECK constraints (name → boolean SQL expression) from
    * a note set. */
  def constraintsOf(notes: Set[String]): Map[String, String] =
    kvOf(notes).collect { case (k, v) if k.startsWith(ChkPrefix) =>
      k.stripPrefix(ChkPrefix) -> v
    }

  /** Add a CHECK constraint (Delta `ALTER TABLE ... ADD CONSTRAINT ...
    * CHECK (...)` shape): the CURRENT table must already satisfy it —
    * one aggregate pass, refused loudly otherwise — and every later
    * commit that introduces rows (append, streaming batch, upsert,
    * overwrite, UPDATE assignments) re-validates its incoming frame.
    * SQL CHECK semantics: a row violates only when the expression is
    * FALSE — NULL passes. Enforcement evaluates absent columns as NULL
    * (an additive batch missing a later column is checked as its rows
    * will read). The constraint rides as a `kv:chk_<name>:` note, so it
    * binds atomically with the version that added it and time travel
    * sees each version's own constraint set. */
  def addConstraint(spark: SparkSession, root: String, name: String,
      exprSql: String): Long = {
    require(name.matches("[A-Za-z0-9_-]+"), s"unsafe constraint name: $name")
    require(!exprSql.exists(c => c == '\n' || c == '\r'),
      "multi-line constraint expression")
    withTable(root, "addConstraint") { snap =>
      enforceConstraints(spark, readSnapshot(spark, root, snap),
        Set(s"kv:$ChkPrefix$name:$exprSql"), s"addConstraint $name")
      publish(root, snap)(notes = kvMerge(snap.notes, Map(s"$ChkPrefix$name" -> exprSql)))
    }
  }

  /** Remove a CHECK constraint — metadata-only commit. */
  def dropConstraint(root: String, name: String): Long =
    withTable(root, "dropConstraint") { snap =>
      require(constraintsOf(snap.notes).contains(name),
        s"dropConstraint: no constraint $name " +
          s"(have ${constraintsOf(snap.notes).keys.toSeq.sorted.mkString(", ")})")
      publish(root, snap)(notes = snap.notes.filterNot(_.startsWith(s"kv:$ChkPrefix$name:")))
    }

  /** Column names (lowercased leaf attributes) a constraint expression
    * references — what gates rename/drop of constrained columns. */
  private def constraintRefs(spark: SparkSession, exprSql: String): Set[String] =
    scala.util.Try {
      org.apache.spark.sql.graftbridge.Bridge.parseExpression(spark, exprSql)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            // EVERY name part, not just the leaf: a nested reference
            // `a.b` gates rename/drop of the actual top-level column `a`
            // (and, conservatively, of `b`) — leaf-only matching let the
            // real column slip past the gate while blocking a stranger
            a.nameParts.map(_.toLowerCase(java.util.Locale.ROOT))
        }.flatten.toSet
    } match {
      case scala.util.Success(refs) => refs
      case scala.util.Failure(ex) =>
        // a silent empty set here would BYPASS the rename/drop gate and
        // skip NULL-padding — exactly the dangling-constraint hazard the
        // gate exists to prevent; an unparseable stored constraint is a
        // corrupted table, not a no-op
        throw new IllegalStateException(
          s"CHECK constraint expression failed to parse: $exprSql — drop " +
            "the constraint (ALTER TABLE ... DROP CONSTRAINT) or repair " +
            "the stored text", ex)
    }

  /** Refuse rename/drop of a column any CHECK constraint references —
    * the constraint text would silently dangle (or worse, bind to a
    * later re-added column). Drop the constraint first. */
  private def requireUnconstrained(spark: SparkSession, notes: Set[String],
      column: String, op: String): Unit =
    constraintsOf(notes).foreach { case (n, e) =>
      require(!constraintRefs(spark, e)
          .contains(column.toLowerCase(java.util.Locale.ROOT)),
        s"$op: column $column is referenced by CHECK constraint $n ($e) — " +
          "drop the constraint first")
    }

  /** Validate `df` against every CHECK constraint in `notes` in ONE
    * aggregate pass; throws naming the first violated constraint and its
    * row count. Columns a constraint references that `df` lacks evaluate
    * as NULL (SQL CHECK passes NULL). */
  private def enforceConstraints(spark: SparkSession, df: DataFrame,
      notes: Set[String], context: String): Unit = {
    val chks = constraintsOf(notes).toSeq.sortBy(_._1)
    if (chks.isEmpty) return
    val have = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val missing = chks.flatMap(c => constraintRefs(spark, c._2))
      .distinct.filterNot(have)
    val padded = missing.foldLeft(df)((d, c) => d.withColumn(c, lit(null)))
    val aggs = chks.map { case (n, e) =>
      sum(when(expr(e) <=> lit(false), 1L).otherwise(0L)).as(s"chk_$n")
    }
    val row = padded.agg(aggs.head, aggs.drop(1): _*).head()
    chks.zipWithIndex.foreach { case ((n, e), i) =>
      val v = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(v == 0L,
        s"$context: CHECK constraint $n violated by $v row(s): $e")
    }
  }

  /** Once-ever memo of CLEAN append-only steps: (root, v) present ⟺
    * version v was verified to neither remove/rewrite a file, change a
    * deletion vector, nor add a dv-born file relative to v-1. Manifests
    * are immutable and a LIVE log never reuses a version number, so a
    * verdict only goes stale when the whole table directory is deleted
    * and the path re-initialized — every in-library path to that state
    * flows through a GENESIS publish (version 1), which
    * [[invalidateAppendSteps]] hooks (and [[freshRoot]] belt-and-braces
    * on delete); an EXTERNAL rm of a directory this process then reads
    * WITHOUT re-initializing is outside the contract (the feed source's
    * addedBytesMemo makes the same assumption). Refusals are NOT
    * memoized: a dirty range throws with fresh context every time (and
    * is terminal for its caller anyway). Wholesale clear past the cap
    * bounds a pathological many-tables process.
    *
    * ACCEPTED process-history dependence: a range whose INTERIOR
    * manifest was pruned AFTER its step was memoized still succeeds in
    * this JVM (the proof came from immutable manifests — it is sound
    * forever), while a fresh process, unable to re-derive it, raises the
    * typed 'not retained' refusal for the same call. Both outcomes are
    * correct; the asymmetry is the price of not forcing interior
    * manifests to outlive their proofs. Callers that need
    * process-portable behavior should retain the interior manifests
    * (pruneHistory keepLast covering their read window) — then the two
    * paths agree. */
  private val appendStepMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Boolean]
  private val AppendStepMemoCap = 1 << 16

  /** Drop every memoized append-step verdict for `root` — called when a
    * path's version numbering can restart (genesis publish; explicit
    * table-directory delete). */
  private def invalidateAppendSteps(root: String): Unit =
    appendStepMemo.keysIterator.filter(_._1 == root)
      .foreach(appendStepMemo.remove)

  /** Incremental read (file-level change feed for APPEND-ONLY ranges):
    * the rows added between `fromVersion` (exclusive) and `toVersion`
    * (inclusive, default latest) — exactly the frames a downstream
    * incremental consumer (near-dup index append, rollup fold, feature
    * backfill) wants to process per cycle without rescanning the table.
    * Resolved from the manifests alone: the files present in `to` but
    * not in `from`, read under `to`'s schema pin and column mapping.
    * Refuses LOUDLY when ANY version in the range removed or rewrote a
    * file or touched a deletion vector (an overwrite/upsert/delete
    * landed inside it) — verified per version, not just at the
    * endpoints, so a file added and rewritten strictly INSIDE the range
    * refuses too instead of surfacing its survivors as "appends". Those
    * semantics need a row-level diff the caller must opt into
    * ([[readChanges]]), not a silent wrong answer.
    * Streaming-sink tables ([[streamingSink]], [[appendOnceMonotone]],
    * [[commitAppend]], partition-minting [[upsertPartitioned]] batches
    * that touch only NEW partitions) are append-only by construction. */
  def readAppended(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    // fromVersion 0 is the GENESIS baseline (nothing yet) — what a
    // stream anchored at startingVersion=earliest on an unpruned log
    // replays: every retained file is "appended since nothing"
    val fromSnap: Option[Snapshot] =
      if (fromVersion == 0L) None
      else Some(snapshot(root, fromVersion).getOrElse(
        throw new IllegalArgumentException(
          s"readAppended: version $fromVersion is not retained at $root")))
    val fromEntries = fromSnap.map(_.entries).getOrElse(Seq.empty)
    // compare RESOLVED versions (snapshot treats negatives as "current"):
    // the raw-arg compare would let readAppended(-1, olderV) slip past
    // the precedes refusal and silently return an empty frame
    val fromV = fromSnap.map(_.version).getOrElse(0L)
    val to = snapshot(root, toVersion).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    require(to.version >= fromV,
      s"readAppended: $toVersion precedes $fromVersion")
    // The append-only proof holds PER VERSION, not just at the
    // endpoints: a file added at v and rewritten (COW delete/update) or
    // fully dropped at v' with fromV < v < v' <= to is absent from BOTH
    // endpoint manifests, so an endpoint diff would silently surface the
    // rewrite's survivor file as "appends" while the delete itself
    // vanished (reachable from appends-mode stream batches whenever
    // maxVersionsPerBatch or a catch-up batch spans >1 version). Manifest
    // header parses only, no data I/O: paths may only accumulate, a
    // pre-existing entry's deletion vector may never change, and a
    // newborn file may not carry one. Every range walks, single steps
    // included — there the one step's manifests, `to` and `fromEntries`,
    // are already in hand, so the walk parses nothing more.
    //
    // Each STEP (v-1 → v) is a pure function of two immutable
    // manifests, so a clean verdict memoizes per (root, v) — the
    // TrieMap above. A consumer tailing a high-commit-rate table
    // re-walks its catch-up range on every batch; without the memo
    // every walk re-parses every manifest in the range (the feed
    // source's addedBytesMemo closed the same hole on its side).
    ((fromV + 1) to to.version).foreach { v =>
      if (!appendStepMemo.contains((root, v))) {
        val sv =
          if (v == to.version) to
          else snapshot(root, v).getOrElse(
            throw new IllegalArgumentException(
              s"readAppended: version $v is not retained at $root — an " +
                s"append-only proof over ($fromV, ${to.version}] needs " +
                "every manifest in the range"))
        val prevDv: Map[String, Option[(String, Long)]] =
          (if (v - 1 == fromV) fromEntries
           else if (v <= 1) Seq.empty
           else snapshot(root, v - 1).getOrElse(
             throw new IllegalArgumentException(
               s"readAppended: version ${v - 1} is not retained at $root " +
                 s"— an append-only proof over ($fromV, ${to.version}] " +
                 "needs every manifest in the range"))
             .entries).map(e => e.path -> e.dv).toMap
        val paths = sv.entries.map(_.path).toSet
        val rem = prevDv.keysIterator.filterNot(paths).size
        require(rem == 0,
          s"readAppended: version $v removed or rewrote $rem " +
            "file(s) — not an append-only range (use readChanges for " +
            "rewrite ranges)")
        val dvBad = sv.entries.count(e =>
          prevDv.get(e.path).map(_ != e.dv).getOrElse(e.dv.isDefined))
        require(dvBad == 0,
          s"readAppended: version $v changed or introduced the deletion " +
            s"vector of $dvBad file(s) — a delete landed in the range; " +
            "not append-only (use readChanges)")
        if (appendStepMemo.size >= AppendStepMemoCap) appendStepMemo.clear()
        appendStepMemo.putIfAbsent((root, v), true)
        ()
      }
    }
    val fromPaths = fromEntries.map(_.path).toSet
    val added = to.entries.filterNot(e => fromPaths(e.path))
    val schema = to.schemaJson.map(parseSchema)
    val phys =
      if (added.isEmpty)
        // schema-correct empty frame: no files were added in the range
        read(spark, root, to.version).limit(0)
      else readEntriesOf(spark, root, to, added, schema)
    if (to.mapping.isEmpty || added.isEmpty) phys
    else applyMapping(phys, to, schema.get)
  }

  /** ROW-LEVEL change feed (Delta CDF / Iceberg changelog shape): every
    * row inserted or deleted in versions (`fromVersion`, `toVersion`],
    * tagged `_change_type` ('insert' | 'delete') and `_commit_version`.
    * Resolved from the manifests plus deletion-vector sidecars — append
    * and MoR commits never write CDC files, because the log already
    * records row-level deletes as positions:
    *
    *   - files ADDED by a commit → their rows (dv-applied as of that
    *     commit) are inserts;
    *   - a commit that only REMOVES files (a full-file MoR drop, a
    *     RESTORE that undoes appends) → the removed files' live rows at
    *     the parent version are deletes;
    *   - a GROWN deletion vector → exactly the new positions' rows are
    *     deletes; a SHRUNK one (restore across a MoR delete) → the
    *     resurrected positions' rows are inserts.
    *
    * Commits that both add and remove data files attribute through the
    * version-pinned markers every rewrite writer records (see
    * [[writeCdcFiles]]): maintenance rewrites (compact, OPTIMIZE /
    * z-order) carry `cdc_noop` and emit NOTHING — a nightly OPTIMIZE is
    * invisible to feed consumers; tables with `change_feed=true` get
    * exact commit-time change files (`cdc_files`) from COW DML and
    * upserts; everything else (overwrite, restore, un-opted COW DML)
    * attributes from the manifest diff under `cdc_full` — removed files'
    * live rows as deletes, added files as inserts, which is exact for a
    * replace and coarse-but-correct (survivor churn included) for a
    * partial rewrite. Only an UNMARKED mixed commit — history written
    * before attribution existed — still refuses loudly.
    *
    * Cost: O(changed files + changed positions) per version in the
    * range — append-only versions read exactly their new files, MoR
    * deletes read exactly the victim positions' rows. Each version's
    * rows read under that version's own schema + mapping; frames align
    * by name with later-added columns surfacing NULL. */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    val to = snapshot(root, toVersion).getOrElse(
      throw new IllegalStateException(s"no committed version at $root")).version
    // fromVersion 0 is the GENESIS baseline: version 1's "parent" is the
    // empty table, so its files flow as plain inserts — the
    // startingVersion=earliest replay on an unpruned log
    require(fromVersion == 0L || snapshot(root, fromVersion).isDefined,
      s"readChanges: version $fromVersion is not retained at $root")
    require(to >= fromVersion, s"readChanges: $toVersion precedes $fromVersion")
    val frames = ((fromVersion + 1) to to).flatMap { v =>
      val prevOpt: Option[Snapshot] =
        if (v == 1L) None
        else Some(snapshot(root, v - 1).getOrElse(
          throw new IllegalStateException(
            s"readChanges: version ${v - 1} is not retained at $root")))
      // a genesis (fromVersion 0) anchor bypasses the head require, so a
      // pruned history must refuse HERE with the same typed message —
      // never an untyped None.get
      val cur = snapshot(root, v).getOrElse(
        throw new IllegalArgumentException(
          s"readChanges: version $v is not retained at $root"))
      val kv = kvOf(cur.notes)
      def tag(df: DataFrame, t: String): DataFrame = df
        .withColumn("_change_type", lit(t))
        .withColumn("_commit_version", lit(v))
      // version-pinned attribution markers, in precedence order — see
      // [[writeCdcFiles]]' scaladoc for the three-marker contract
      if (kv.get("cdc_noop").contains(v.toString))
        Seq.empty // row-preserving maintenance rewrite: nothing changed
      else kv.get("cdc_files").filter(_.startsWith(s"$v:")) match {
        case Some(pin) =>
          // the commit recorded its EXACT changed rows at commit time —
          // the files are authoritative, the rewrite is never diffed
          val dir = pin.drop(s"$v:".length)
          Seq(spark.read.parquet(s"$root/$dir")
            .withColumn("_commit_version", lit(v)))
        case None =>
          val prevEntries = prevOpt.map(_.entries).getOrElse(Seq.empty)
          val prevByPath = prevEntries.map(e => e.path -> e).toMap
          val curByPath = cur.entries.map(e => e.path -> e).toMap
          val added = cur.entries.filterNot(e => prevByPath.contains(e.path))
          val removed = prevEntries.filterNot(e => curByPath.contains(e.path))
          // `cdc_rowlevel` (updateMoR) certifies the commit's added files
          // hold ONLY post-image rows; `cdc_full` certifies removed files'
          // live rows are pre-image deletes and added files post-image
          // inserts (exact for overwrite/restore, coarse-but-exact-events
          // for COW DML on tables without change_feed) — either makes an
          // adds+removes commit attributable
          val attributable =
            kv.get("cdc_rowlevel").contains(v.toString) ||
              kv.get("cdc_full").contains(v.toString)
          require(added.isEmpty || removed.isEmpty || attributable,
            s"readChanges: version $v rewrote data files (adds and removes " +
              "in one commit) and carries no attribution marker — a commit " +
              "written before change attribution existed; use read + a " +
              "keyed diff across it")
          val changedDv = cur.entries.flatMap { e =>
            prevByPath.get(e.path).filter(_.dv != e.dv).map(p => (p, e))
          }
          val inserts =
            if (added.isEmpty) None
            else Some(tag(readVersionSubset(spark, root, cur, added), "insert"))
          val dropDeletes =
            if (removed.isEmpty) None
            // removed.nonEmpty implies a real parent (genesis removes nothing)
            else Some(tag(readVersionSubset(spark, root, prevOpt.get, removed),
              "delete"))
          // ALL of the version's dv-changed files diff as ONE frame pair:
          // positions carry (f, p), so the except and the row fetch key on
          // the file column — per-file frames (2 exceptAll + a pruned scan
          // each) made the feed plan O(changed files) unions of shuffly
          // subplans, and a MoR delete touching every file of a table put
          // the whole feed read on that cliff
          val dvFrames =
            if (changedDv.isEmpty) Seq.empty
            else {
              def posOf(es: Seq[FileEntry]): DataFrame = {
                // one scan per SIDECAR, not per entry — a commit-wide
                // delete records every file's positions in one sidecar
                val bySidecar = es.flatMap(e => e.dv.map(d => d._1 -> e.path))
                  .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
                if (bySidecar.isEmpty) {
                  import spark.implicits._
                  Seq.empty[(String, Long)].toDF("f", "p")
                } else bySidecar.map { case (sc, paths) =>
                  readFiles(spark, Seq(s"$root/$sc"), Some(DvSidecarSchema))
                    .filter(col("f").isin(paths: _*))
                }.reduce(_ unionByName _)
              }
              val oldPos = posOf(changedDv.map(_._1))
              val newPos = posOf(changedDv.map(_._2))
              val grown = newPos.exceptAll(oldPos)
              val shrunk = oldPos.exceptAll(newPos)
              val ces = changedDv.map(_._2)
              // rows read from the files RAW (dv stripped) at the positions
              Seq(
                Some(tag(rowsAtPositions(spark, root, cur, ces, grown),
                  "delete")),
                if (changedDv.forall(_._1.dv.isEmpty)) None
                else Some(tag(rowsAtPositions(spark, root, cur, ces, shrunk),
                  "insert"))).flatten
            }
          inserts.toSeq ++ dropDeletes.toSeq ++ dvFrames
      }
    }
    if (frames.isEmpty)
      readSnapshot(spark, root, snapshot(root, to).get).limit(0)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
    else frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** One version's LOGICAL read restricted to an entry subset (the
    * change-feed building block: added files at their commit, removed
    * files at their parent). */
  private def readVersionSubset(spark: SparkSession, root: String,
      snap: Snapshot, entries: Seq[FileEntry]): DataFrame = {
    val schema = snap.schemaJson.map(parseSchema)
    val phys = readEntriesOf(spark, root, snap, entries, schema)
    if (snap.mapping.isEmpty) phys else applyMapping(phys, snap, schema.get)
  }

  /** The (f: rel path, p: row index) deletion-vector positions of one
    * entry — empty frame when it carries none. */
  private def entryPositions(spark: SparkSession, root: String,
      e: FileEntry): DataFrame = e.dv match {
    case None =>
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("f", "p")
    case Some((sidecar, _)) =>
      readFiles(spark, Seq(s"$root/$sidecar"), Some(DvSidecarSchema))
        .filter(col("f") === e.path)
  }

  /** The LOGICAL rows of `entries` (read RAW — vectors stripped) at the
    * given (f, p) positions: how the change feed materializes deleted /
    * resurrected rows from a position diff. One semi-join on the long
    * [[DvKeyCol]]. */
  private def rowsAtPositions(spark: SparkSession, root: String,
      snap: Snapshot, entries: Seq[FileEntry],
      positions: DataFrame): DataFrame =
    withPositions(spark, root, snap, entries.map(_.copy(dv = None)),
      snap.schemaJson.map(parseSchema))
      .join(broadcast(sidecarKeys(positions, ordinalsOf(entries))),
        Seq(DvKeyCol), "left_semi")
      .drop(DvKeyCol)

  /** Metadata-only RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF`):
    * publishes a NEW version whose file list, schema, partition metadata
    * and column mapping are exactly those of `toVersion` — zero data
    * movement, the restored files are carried by reference (they must
    * still be retained: a pruned+vacuumed version cannot be restored and
    * throws). History is preserved — the rolled-back versions stay
    * pinnable until [[pruneHistory]] — and the NOTE set carries the
    * CURRENT notes, not the target's: the effectively-once replay ledger
    * must never roll back (a batch folded after `toVersion` must still
    * no-op if redelivered after the restore). */
  def restore(spark: SparkSession, root: String, toVersion: Long,
      note: String = "restore"): Long =
    withTable(root, "restore") { cur =>
      val target = snapshot(root, toVersion).getOrElse(
        throw new IllegalArgumentException(
          s"restore: version $toVersion is not retained at $root"))
      // CHECK constraints gate the RESURRECTED content: restore carries
      // the CURRENT note ledger (constraints survive the rollback) while
      // re-referencing OLD files — rows that predate an ADD CONSTRAINT
      // and were deleted before it validated would otherwise come back
      // uncertified, and no later path re-validates (maintenance
      // rewrites deliberately never do — rows are certified exactly
      // where they ENTER, and a restore is an entry point). Scoped to
      // what actually RE-SURFACES, derived from the same manifest diff
      // the CDC attribution uses: files present in target but absent
      // from current, plus shared files whose deletion vector differs
      // (a shrunk vector re-surfaces hidden rows — validated as the
      // file's full target-dv live content, a sound bounded
      // over-approximation). A restore that only undoes appends
      // resurrects nothing and pays NO table scan.
      if (constraintsOf(cur.notes).nonEmpty) {
        val curByPath = cur.entries.map(e => e.path -> e).toMap
        val resurfaced = target.entries.filter(e =>
          curByPath.get(e.path) match {
            case None => true // file comes back whole
            case Some(c) => c.dv != e.dv // vector moved: rows may re-surface
          })
        if (resurfaced.nonEmpty)
          enforceConstraints(spark,
            readVersionSubset(spark, root, target, resurfaced),
            cur.notes, "restore")
      }
      // a restore's manifest diff IS its exact logical change: files the
      // rollback removes are pre-image deletes, files it brings back are
      // post-image inserts, carried entries are untouched rows — so the
      // coarse full-diff attribution is exact here
      publish(root, cur)(entries = target.entries,
        notes = kvMerge(cur.notes + note, Map("cdc_full" -> (cur.version + 1).toString)),
        partCols = target.partCols, schemaJson = target.schemaJson,
        mapping = target.mapping, retired = target.retired)
    }

  /** Transactional targeted UPDATE: rows where `cond` is TRUE get the
    * assignments applied, every other row survives byte-identical —
    * SQL UPDATE semantics (NULL-condition rows are unmatched), published
    * as one copy-on-write overwrite version. All assignment expressions
    * evaluate against the ORIGINAL row (one projection — an assignment
    * never sees a sibling assignment's result, per SQL). */
  def updateWhere(spark: SparkSession, root: String, cond: Column,
      assignments: Seq[(String, Column)], note: String = ""): Long = {
    require(assignments.nonEmpty, "updateWhere: no SET assignments")
    // `update_mode = mor` routes to the merge-on-read path (the
    // delete_mode twin): SQL UPDATE statements and API callers flip one
    // table property, no call-site change. Updates MoR cannot express —
    // a retyping SET (appended files must stay schema-uniform with the
    // candidates) or a legacy partition layout — FALL BACK to this
    // copy-on-write path rather than stranding the caller behind the
    // property (the Delta behavior: DVs where possible, rewrite where
    // not). Direct updateMoR callers still get the loud refusal.
    if (snapshot(root).exists(s => kvOf(s.notes).get("update_mode").contains("mor")))
      try return updateMoR(spark, root, cond, assignments, note)
      catch {
        // typed refusal: MoR cannot express this update on this table —
        // fall through to copy-on-write below (never matched on message
        // text; see [[MoRUnsupportedException]])
        case _: MoRUnsupportedException =>
      }
    withTable(root, "update") { snap =>
      def applyAssignments(df: DataFrame): DataFrame = {
        assignments.foreach { case (c, _) =>
          require(df.columns.exists(_.equalsIgnoreCase(c)),
            s"updateWhere: no column $c (have ${df.columns.mkString(", ")})")
        }
        df.select(df.columns.map { c =>
          assignments.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, e)) =>
              when(cond <=> lit(true), e).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }.toSeq: _*)
      }
      // STATS-PRUNED PARTIAL REWRITE, same shape as [[delete]]: only
      // files whose statistics admit a cond-TRUE row restage (with the
      // assignments applied); the rest carry by reference under the
      // UNCHANGED schema + mapping. A SET that retypes a column forces
      // the whole-table path (mixed parquet vintages of one physical
      // column would not read uniformly) — detected by schema compare.
      val conjuncts = conjunctsOf(spark, cond)
      val (rewrite, carried) =
        snap.entries.partition(entryCouldMatch(snap, conjuncts))
      if (rewrite.isEmpty) {
        // validate the assignments even when nothing can match
        applyAssignments(readSnapshot(spark, root, snap))
        publish(root, snap)(notes = noted(note)(snap.notes))
      } else {
        lazy val physPrev = parseSchema(effectiveSchemaJson(spark, root, snap))
        lazy val candPhys = readEntriesOf(spark, root, snap, rewrite, Some(physPrev))
        lazy val candLogical =
          if (snap.mapping.isEmpty) candPhys
          else applyMapping(candPhys, snap, physPrev)
        lazy val updated = applyAssignments(candLogical)
        def sameTypes = updated.schema.fields.map(f =>
          (f.name.toLowerCase, f.dataType)).toSeq ==
          candLogical.schema.fields.map(f =>
            (f.name.toLowerCase, f.dataType)).toSeq
        // precise change-feed rows (when the table opted in): matched
        // ORIGINAL rows as pre-image deletes, the assignments applied to
        // exactly those rows as post-image inserts
        def changesOf(src: DataFrame): DataFrame = {
          val pre = src.filter(cond <=> lit(true))
          val post = pre.select(pre.columns.map { c =>
            assignments.find(_._1.equalsIgnoreCase(c)) match {
              case Some((_, e)) => e.as(c)
              case None => col(c)
            }
          }.toSeq: _*)
          pre.withColumn("_change_type", lit("delete"))
            .unionByName(post.withColumn("_change_type", lit("insert")))
        }
        if (carried.isEmpty || !sameTypes) {
          val whole = applyAssignments(readSnapshot(spark, root, snap))
          commitOverwriteNotes(spark, root, whole, snap, noted(note),
            Some(() => changesOf(readSnapshot(spark, root, snap))))
        } else {
          // CHECK constraints validate the assignments' output — only
          // the restaged candidates can have changed
          enforceConstraints(spark, updated, snap.notes, "updateWhere")
          rewritePartial(spark, root, snap, physPrev, rewrite, updated, conjuncts,
            noted(note), () => changesOf(candLogical))
        }
      }
    }
  }

  /** Effectively-once tagged fold (the incremental-rollup discipline on
    * the log): `merge(current)` builds the folded table; a tag already in
    * the snapshot's notes makes the fold a no-op (returns false). Safe
    * under CONCURRENT folders — the CAS loser re-reads the winner's tag
    * set. */
  def foldOnce(spark: SparkSession, root: String, tag: String,
      merge: Option[DataFrame] => DataFrame): Boolean = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"unsafe fold tag: $tag")
    withRetry(root) {
      case Some(snap) if snap.notes(tag) => Some(false)
      case None =>
        init(spark, root, merge(None), tag); Some(true)
      case Some(snap) =>
        commitOverwriteNotes(spark, root,
          merge(Some(readSnapshot(spark, root, snap))), snap, noted(tag))
        Some(true)
    }.get
  }

  /** Effectively-once tagged APPEND — [[foldOnce]]'s append sibling: `df`
    * lands as new files on top of the latest version, the tag riding in
    * the same atomic manifest publish; a tag already committed makes the
    * append a no-op (returns false). The note set grows with DISTINCT
    * tags (each manifest carries the full set — the replay ledger);
    * right for occasional ad-hoc batches. A tag stream whose ids only
    * grow (a streaming sink) should use [[appendOnceMonotone]], whose
    * ledger is O(1) per stream instead. */
  def appendOnce(spark: SparkSession, root: String, tag: String,
      df: DataFrame, kv: Map[String, String] = Map.empty): Boolean = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"unsafe append tag: $tag")
    val staged = new StagedBox(None)
    withRetry(root) {
      case Some(snap) if snap.notes(tag) => Some(false)
      case None =>
        initWith(spark, root, df, Seq.empty, kvMerge(Set(tag), kv)); Some(true)
      case Some(snap) =>
        commitAppendNotes(spark, root, df, snap,
          ns => kvMerge(ns + tag, kv), Some(staged))
        Some(true)
    }.get
  }

  /** High-water of a monotone tag stream in a note set. */
  private def highWater(notes: Set[String], prefix: String): Option[Long] =
    notes.collect { case n if n.startsWith(s"hw:$prefix:") =>
      n.stripPrefix(s"hw:$prefix:").toLong
    }.reduceOption(_ max _)

  /** Key-value table properties carried in the note set as
    * `kv:<key>:<value>` lines and REPLACED per key on every commit that
    * sets them — the `hw:` high-water discipline generalized (Delta's
    * table-properties / `txn` shape): the ledger stays O(#keys) no matter
    * how many commits set them, and a property changes ATOMICALLY with
    * the data of the commit that carries it. This is what lets a derived
    * structure (a persisted dedup/ANN index) keep its staleness count or
    * artifact pointer in the SAME manifest publish as the rows it
    * describes — no second commit protocol, no torn meta. */
  def kvOf(notes: Set[String]): Map[String, String] =
    notes.iterator.collect { case n if n.startsWith("kv:") =>
      val rest = n.drop(3)
      val i = rest.indexOf(':')
      require(i > 0, s"malformed kv note: $n")
      rest.take(i) -> rest.drop(i + 1)
    }.toMap

  /** Replace-merge `kv` into a note set (drop each key's prior value,
    * add the new `kv:` lines). Keys are tag-charset; values must be
    * single-line (notes are line-framed). */
  private def kvMerge(ns: Set[String], kv: Map[String, String]): Set[String] = {
    if (kv.isEmpty) return ns
    kv.foreach { case (k, v) =>
      require(k.matches("[A-Za-z0-9_-]+"), s"unsafe kv key: $k")
      require(!v.exists(c => c == '\n' || c == '\r'), s"multi-line kv value for $k")
    }
    ns.filterNot(n => kv.keys.exists(k => n.startsWith(s"kv:$k:"))) ++
      kv.map { case (k, v) => s"kv:$k:$v" }
  }

  /** Effectively-once MONOTONE append — [[appendOnce]] for tag streams
    * whose ids only grow (Structured Streaming's foreachBatch batchIds):
    * the replay ledger is ONE `hw:<prefix>:<id>` high-water note per
    * stream, REPLACED on each commit instead of accumulated — the
    * manifest note section stays O(#streams) after 10⁶ micro-batches,
    * where per-tag notes would make cumulative manifest bytes quadratic
    * in commit count (the Delta `txn` appId→version discipline).
    * `id <= highWater` no-ops; so ids must be MONOTONE per prefix —
    * exactly what foreachBatch guarantees. Legacy per-tag ledgers
    * (`<prefix>-<id>` notes from [[appendOnce]]-based sinks) interop: a
    * replayed legacy id no-ops, and the first monotone commit folds
    * implied legacy tags (numeric suffix ≤ id) into the high-water. */
  def appendOnceMonotone(spark: SparkSession, root: String, prefix: String,
      id: Long, df: DataFrame, kv: Map[String, String] = Map.empty): Boolean =
    appendOnceMonotoneKv(spark, root, prefix, id, df, _ => kv)

  /** [[appendOnceMonotone]] whose replaced `kv:` properties are DERIVED
    * from the snapshot the commit is CAS'd against (`kvFn` runs inside
    * the retry loop, per attempt): the variant a caller needs when a
    * property's new value depends on the current one — an index count
    * `prev + batch` — because a CAS loss re-derives against the fresh
    * snapshot instead of committing a value computed from a version this
    * writer never read (the stale-kv hazard [[commitAppendKv]]'s pinned
    * contract documents; a plain-kv retry keeps the caller's stale
    * values). `kvFn` receives None exactly when the commit will
    * bootstrap the table. */
  def appendOnceMonotoneKv(spark: SparkSession, root: String, prefix: String,
      id: Long, df: DataFrame,
      kvFn: Option[Snapshot] => Map[String, String],
      preStaged: Option[StagedAppend] = None): Boolean = {
    require(prefix.matches("[A-Za-z0-9_-]+"), s"unsafe note prefix: $prefix")
    val staged = new StagedBox(preStaged)
    withRetry(root) {
      case None =>
        initWith(spark, root, df, Seq.empty,
          kvMerge(Set(s"hw:$prefix:$id"), kvFn(None)))
        Some(true)
      case Some(snap) if highWater(snap.notes, prefix).exists(_ >= id) ||
          snap.notes(s"$prefix-$id") =>
        Some(false)
      case Some(snap) =>
        commitAppendNotes(spark, root, df, snap, ns =>
          kvMerge(ns.filterNot { n =>
            n.startsWith(s"hw:$prefix:") ||
              (n.startsWith(s"$prefix-") && scala.util.Try(
                n.stripPrefix(s"$prefix-").toLong).toOption.exists(_ <= id))
          } + s"hw:$prefix:$id", kvFn(Some(snap))), Some(staged))
        Some(true)
    }.get
  }

  /** Latest committed high-water of a monotone tag stream — what an
    * at-least-once caller checks to recognize a fully-processed batch
    * WITHOUT re-running any of its work (the read side of
    * [[appendOnceMonotone]]'s ledger). None for an uninitialized table or
    * a stream that never committed. */
  def highWaterOf(root: String, prefix: String): Option[Long] =
    snapshot(root).flatMap(s => highWater(s.notes, prefix))

  /** Structured-Streaming sink: every micro-batch commits as ONE tagged
    * txlog append — the log-backed replacement for a plain parquet
    * `writeStream` sink. Exactly-once table contents under foreachBatch's
    * at-least-once delivery: a replayed batchId is at or under the
    * manifest's `hw:batch:<id>` high-water, so the replay no-ops — and
    * unlike a plain parquet append there is no torn half-batch visible
    * to readers at ANY crash point (the manifest publishes atomically or
    * not at all). The ledger is the O(1) high-water note
    * ([[appendOnceMonotone]]), so a week of 30-second micro-batches
    * costs 20k manifests of constant size — not 20k manifests of
    * linearly growing tag lists. Readers concurrent with the stream see
    * complete committed versions only, with snapshot isolation per
    * [[read]].
    *
    * Column mapping interleaved with the stream (contract, pinned in
    * TxLogModelSpec): after a RENAME, a micro-batch still speaking the
    * old logical schema is REFUSED by the additive gate — a stream's
    * source schema is fixed at start, so the operator restarts the query
    * against the new logical schema (silently minting a fresh column
    * would fork the data); a batch speaking the new name lands in the
    * same physical column, and [[readAppended]] across the boundary
    * projects everything under the new logical names. After a DROP, a
    * batch still carrying the column re-adds it under a fresh physical
    * name (old rows surface NULL — the resurrection guard) and the
    * stream keeps flowing. */
  def streamingSink(stream: DataFrame, root: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendOnceMonotone(batch.sparkSession, root, "batch", batchId, batch.toDF())
        ()
    }.option("checkpointLocation", checkpoint)
      .trigger(trigger).start()

  /** Bin-pack the LATEST version's files and republish — same row
    * multiset, fewer files, manifest-atomic; pinned readers of older
    * versions keep their files until [[pruneHistory]] + [[vacuum]].
    *
    * Unpartitioned tables: `targetFiles` is the TABLE target —
    * at-or-under is a METADATA-ONLY no-op (returns the current version,
    * commits nothing; repeated maintenance runs must cost a manifest
    * read, not a full rewrite), otherwise a zero-shuffle `coalesce`
    * rewrite.
    *
    * Partitioned tables: the hive writer emits at least one file per
    * partition, so a table-total target is unreachable once partitions
    * outnumber it — `targetFiles` is therefore interpreted PER PARTITION.
    * Only over-fragmented partitions (more than `targetFiles` files) are
    * read and restaged; every at-or-under partition is carried into the
    * new version BY REFERENCE, and a table with no over-fragmented
    * partition is the same metadata-only no-op. */
  def compact(spark: SparkSession, root: String, targetFiles: Int): Long =
    withTable(root, "compact") { snap =>
      val target = targetFiles.max(1)
      snap.partCols match {
        case Seq() =>
          // deletion vectors make an otherwise at-target table a rewrite
          // candidate: compaction is the documented DV PURGE path (the
          // restaged files hold survivors only, the sidecars age out via
          // pruneHistory + vacuum)
          if (snap.files.size <= target && !snap.entries.exists(_.dv.isDefined))
            snap.version
          else {
            // PHYSICAL-level rewrite (matching the partitioned path):
            // survivors read dv-applied under PHYSICAL names, so the
            // mapping/retired layers carry through unchanged — compact
            // no longer materializes logical names the way an overwrite
            // commit deliberately does. Row-preserving: the change feed
            // skips it outright (cdc_noop).
            val packed = readEntriesOf(spark, root, snap, snap.entries,
              snap.schemaJson.map(parseSchema)).coalesce(target)
            val staged = stageData(spark, root, packed)
            // compaction's output depends ONLY on its victims — ANY
            // interleaved commit whose files leave the victims untouched
            // rebases (the interloper simply stays unpacked): a nightly
            // OPTIMIZE racing a stream of appends costs one manifest
            // retry, never a re-run of the rewrite
            publishRmw(root, snap, victims = snap.entries, staged = staged,
              readConjuncts = None, notesFn = _ + "compact", changes = None,
              interloperHot = Some(_ => false))()
          }
        case pcs =>
          val byPart = snap.entries.groupBy(_.part)
          val fragParts = byPart.collect {
            case (pv, es) if es.size > target || es.exists(_.dv.isDefined) => pv
          }.toSet
          if (fragParts.isEmpty) snap.version
          else {
            val (rewrite, keep) = snap.entries.partition(e => fragParts(e.part))
            // per-fragmented-partition bin-pack in ONE job: a
            // deterministic salt caps files per partition value at
            // `target` (each (partition, salt) bucket lands in one
            // write task) without a per-partition driver loop —
            // deterministic so a retried stage re-routes rows
            // identically (a random salt could duplicate/lose rows
            // under task retry, the classic repartition hazard)
            val src = readEntriesOf(spark, root, snap, rewrite,
              snap.schemaJson.map(parseSchema))
            // hash() rejects map-typed columns — salt on the hashable ones
            def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
              case _: org.apache.spark.sql.types.MapType => true
              case st: org.apache.spark.sql.types.StructType =>
                st.fields.exists(f => hasMap(f.dataType))
              case at: org.apache.spark.sql.types.ArrayType => hasMap(at.elementType)
              case _ => false
            }
            val hashable = src.schema.fields.filterNot(f => hasMap(f.dataType))
              .map(f => col(f.name))
            val salt =
              if (hashable.isEmpty) lit(0) else pmod(hash(hashable: _*), lit(target))
            val packed = src.repartition(pcs.map(p => col(p._1)) :+ salt: _*)
            val fresh = stagePartitioned(spark, root, packed, pcs.map(_._1),
              keepInFiles = partDataInFiles(pcs, snap.schemaJson.map(parseSchema)),
              placeholderIfEmpty = keep.isEmpty)
            // physical-level compaction: files restaged under their
            // PHYSICAL columns (readGroups is not mapping-applied here),
            // so the mapping/retired layers carry through unchanged.
            // Output depends only on the fragmented partitions' files —
            // any interleaved commit that leaves them untouched rebases.
            publishRmw(root, snap, victims = rewrite, staged = fresh,
              readConjuncts = None, notesFn = _ + "compact", changes = None,
              interloperHot = Some(_ => false))()
          }
      }
    }

  /** Multi-dimensional clustering rewrite — `OPTIMIZE ... ZORDER BY`, the
    * layout move that makes the manifest's footer statistics SELECTIVE on
    * more than one column at once. A single-key range cluster (s18's
    * shape) gives tight per-file [min,max] on that key and nothing else;
    * interleaving the bits of per-column RANK buckets (256 buckets/dim,
    * boundaries from a bounded deterministic sample — rank-based, so
    * value skew can't collapse the curve) and range-partitioning on the
    * resulting z-value gives every clustered column a narrow per-file
    * interval, so [[readWhere]] / the automatic [[Stats]]-fed FileIndex
    * skip on ANY of them. One full rewrite commit (CAS-atomic overwrite;
    * same rows, new layout — content certified by spec); partitioned
    * tables cluster WITHIN partitions (partition columns lead the range
    * partitioning and the in-task sort, which also satisfies the hive
    * writer's required ordering so no order-destroying re-sort is
    * inserted). The bucket boundaries are driver-side literals and the
    * z-expression is deterministic, so a retried stage re-routes rows
    * identically. Clustering QUALITY only ever affects how many files a
    * later predicate skips — correctness always comes from the footer
    * stats themselves, never from this layout. */
  def cluster(spark: SparkSession, root: String, cols: Seq[String],
      targetFiles: Int = 8): Long =
    withTable(root, "cluster") { snap =>
      val target = targetFiles.max(1)
      val src = readSnapshot(spark, root, snap)
      val partNames = snap.partCols.map(_._1)
      validateClusterCols(src, partNames, cols)
      // row count for the sample fraction: exact from manifest stats when
      // present (zero I/O), one count scan on stat-less legacy tables
      val rows = snap.entries.flatMap(_.stats.map(_.rows)).sum match {
        case 0L => src.count()
        case n => n
      }
      val ordered = zOrderFrame(src, cols, partNames, rows, target)
      // row-preserving layout rewrite: the change feed skips it outright
      // (cdc_noop). The commit keeps the overwrite SHAPE — every file
      // replaced, schema recommitted from the ordered frame, mapping
      // materialized, adopted layouts upgraded — but publishes through
      // publishRmw so a CAS loss to a disjoint commit REBASES when that
      // is provably safe: no column mapping in play (a carried
      // physical-named interloper would misread under the materialized
      // logical schema) and the parent already on the single-relation
      // layout (a carried legacy hive file lacks its partition column
      // in-file and would surface NULL under the upgraded schema).
      // Otherwise any interloper conflicts and the rewrite recomputes —
      // exactly the pre-r14 behavior.
      // row-preserving maintenance NEVER re-validates constraints: every
      // row was certified when it entered (the append/merge/update/DML
      // gates) or when the constraint landed ([[addConstraint]] validates
      // the whole table before committing) — one discipline shared with
      // [[compact]] and [[clusterIncremental]], and it keeps OPTIMIZE
      // free of an O(table) validation aggregate it doesn't need
      partNames.foreach(pc => requireStablePartType(ordered, pc, "cluster"))
      // the output dirs carry the clustering signature in their names
      // (`c-z<sig>-`): [[clusterIncremental]] recognizes already-sorted
      // generations from the paths alone
      val staged = stage(spark, root, ordered, partNames, dirPrefix = zDirPrefix(cols))
      val rebaseSafe = snap.mapping.isEmpty && snap.retired.isEmpty &&
        (snap.partCols.isEmpty ||
          partDataInFiles(snap.partCols, snap.schemaJson.map(parseSchema)))
      publishRmw(root, snap, victims = snap.entries, staged = staged,
        readConjuncts = None, notesFn = _ + "cluster", changes = None,
        interloperHot = if (rebaseSafe) Some((_: FileEntry) => false) else None)(
        schemaJson = Some(fileSchemaJson(ordered, Seq.empty)),
        mapping = Map.empty, retired = Set.empty,
        partCols = partNames.map(pc => (pc, ordered.schema(pc).dataType)))
    }

  /** Shared [[cluster]]/[[clusterIncremental]] gate: orderable scalar
    * data columns only, at most 7 (63-bit z-value). */
  private def validateClusterCols(src: DataFrame, partNames: Seq[String],
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "cluster: need at least one clustering column")
    require(cols.size <= 7,
      "cluster: at most 7 clustering columns (63-bit z-value)")
    val missing = cols.filterNot(c => src.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty, s"cluster: no such column(s): ${missing.mkString(", ")}")
    cols.foreach { c =>
      val dt = src.schema.find(_.name.equalsIgnoreCase(c)).get.dataType
      require(dt match {
        case _: org.apache.spark.sql.types.NumericType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.BooleanType => true
        case _ => false
      }, s"cluster: $c ($dt) is not an orderable scalar clustering key")
    }
    require(!cols.exists(c => partNames.exists(_.equalsIgnoreCase(c))),
      "cluster: partition columns already prune exactly — cluster on data columns")
  }

  /** The ONE layout recipe both [[cluster]] and [[clusterIncremental]]
    * write with (a shared definition, so the full and incremental
    * layouts can never silently diverge): z-frame `src` on `keyCols`
    * (interleaved rank-bucket z-value when multi-column, the bare
    * column when single), range-partition to `target` files with the
    * partition columns leading — which also satisfies the hive writer's
    * required ordering — and sort within tasks. */
  private def zOrderFrame(src: DataFrame, keyCols: Seq[String],
      partNames: Seq[String], rows: Long, target: Int): DataFrame = {
    val zc = "__graft_z"
    val lead = partNames.map(col)
    val keys = if (keyCols.size == 1) keyCols.map(col) else Seq(col(zc))
    val framed =
      if (keyCols.size == 1) src
      else src.withColumn(zc, zValue(src, keyCols, rows))
    framed.repartitionByRange(target, (lead ++ keys): _*)
      .sortWithinPartitions((lead ++ keys): _*)
      .drop(zc)
  }

  /** Staging-directory prefix for a cluster commit's output: `c-` keeps
    * every existing sweep (vacuum, checkpoint refs) working unchanged,
    * and the `z<sig>-` infix is unambiguous — plain staging suffixes are
    * UUID hex, which never contains 'z'. The signature hashes the
    * LOGICAL clustering column set, so "is this file already laid out
    * for these columns" is answerable from the manifest path alone.
    *
    * SIGNATURE VINTAGE (r16): the column separator changed from ' ' to
    * NUL (a column name may contain a space; NUL cannot appear in one),
    * which changes the MD5 prefix for the SAME column list. A layout
    * clustered by a pre-r16 build therefore reads as UNCLUSTERED to
    * victimsOf/keptGenerations and the next clusterIncremental re-folds
    * it from scratch — a one-time full re-cluster, never a correctness
    * issue (generation membership only gates which files get re-sorted).
    * All of this library's persisted layouts are transient bench/test
    * tables, so no transition shim recognizes the old signature; a
    * deployment with long-lived clustered tables upgrading across this
    * boundary should expect that one full OPTIMIZE-equivalent cost. */
  private def zDirPrefix(cols: Seq[String]): String = {
    val sig = cols.map(_.toLowerCase(java.util.Locale.ROOT)).mkString("\u0000")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    s"c-z$hex-"
  }

  /** INCREMENTAL clustering maintenance — [[cluster]]'s O(unsorted tail)
    * form, for tables too large to rewrite on every OPTIMIZE: cluster
    * commits stage their output into self-describing `c-z<sig>-`
    * directories, so the files NOT yet laid out for `cols` (appends,
    * upserts, merge/DML rewrites that landed since the last cluster run)
    * are recognizable from their manifest paths alone — no marker
    * versions, no snapshot diffs, no retention interaction, and
    * race-proof: a file appended DURING a cluster publish simply stays
    * unsorted and is folded by the next run. Each run reads exactly that
    * tail — PLUS any sorted-generation file that acquired a deletion
    * vector since it was laid out (a MoR delete on a c-z file): folding
    * it applies and purges the sidecar, so DV'd dead rows never persist
    * across maintenance runs — and writes ONE new sorted generation, an
    * LSM-flavored layout: several sorted runs, each with tight per-file
    * footer intervals on every clustered column, so the [[Stats]]-fed
    * skipping prunes within every generation; quality-only, correctness
    * always comes from the footer stats themselves. PHYSICAL-level
    * rewrite (the [[compact]] discipline): column mapping, the schema
    * pin and partitioning carry through untouched, so it composes with
    * renames; the change feed skips it outright (`cdc_noop`); a CAS loss
    * to ANY commit that leaves the tail untouched rebases. A table never
    * fully clustered folds ALL its files (bootstrap is the same
    * operation); a table with no foldable victims returns its current
    * version without committing — repeated maintenance costs a manifest
    * read. `maxGenerations` bounds the LSM shape: when a fold would
    * leave more than that many sorted generations, the run PROMOTES
    * itself to a full [[cluster]] of the same columns — the major
    * compaction, automated, so per-predicate skipping quality cannot
    * degrade unboundedly under months of nightly folds (the promotion
    * check reads the snapshot it is about to fold; a commit racing the
    * decision at worst defers the promotion one run). Like [[cluster]]
    * and [[compact]], a fold never re-validates CHECK constraints: rows
    * are certified at ingest and at [[addConstraint]] time. */
  def clusterIncremental(spark: SparkSession, root: String, cols: Seq[String],
      targetFiles: Int = 8, maxGenerations: Int = 4): Long = {
    require(maxGenerations >= 1,
      s"clusterIncremental: maxGenerations must be >= 1, got $maxGenerations")
    val zPrefix = s"data/${zDirPrefix(cols)}"
    def victimsOf(snap: Snapshot): Seq[FileEntry] = snap.entries.filter(e =>
      !e.path.startsWith(zPrefix) || e.dv.isDefined)
    // generation = one staging directory of sorted output (full and
    // incremental runs each write exactly one); count the ones a fold
    // would CARRY — if the fold's own output would push past the bound,
    // run the major compaction instead
    def keptGenerations(snap: Snapshot): Int = snap.entries.iterator
      .filter(e => e.path.startsWith(zPrefix) && e.dv.isEmpty)
      .map(_.path.split('/')(1)).toSet.size
    withTable(root, "clusterIncremental") { snap =>
      // promotion decided INSIDE the CAS attempt, against the very
      // snapshot the fold would commit over — the old outside-the-loop
      // check could defer promotion a run, or promote against a stale
      // view, when a commit raced it (the r15 review note). A promoted
      // attempt delegates to the full cluster, whose own retry loop
      // re-reads; a fold attempt that loses its CAS re-enters here and
      // RE-DECIDES against the fresh snapshot.
      if (victimsOf(snap).nonEmpty && keptGenerations(snap) >= maxGenerations)
        cluster(spark, root, cols, targetFiles)
      else {
      val partNames = snap.partCols.map(_._1)
      validateClusterCols(readSnapshot(spark, root, snap), partNames, cols)
      val target = targetFiles.max(1)
      val victims = victimsOf(snap)
      if (victims.isEmpty) snap.version
      else {
        // the tail reads PHYSICAL (mapping carries, exactly compact's
        // rewrite level), so the clustering keys translate logical →
        // physical for the frame's column names
        val logToPhys = snap.mapping.map(_.swap)
        val physCols = cols.map(c =>
          logToPhys.find(_._1.equalsIgnoreCase(c)).map(_._2).getOrElse(c))
        val src = readEntriesOf(spark, root, snap, victims,
          snap.schemaJson.map(parseSchema))
        val rows = victims.flatMap(_.stats.map(_.rows)).sum match {
          case 0L => src.count()
          case n => n
        }
        val ordered = zOrderFrame(src, physCols, partNames, rows, target)
        val staged = stage(spark, root, ordered, partNames,
          keepInFiles = partDataInFiles(snap.partCols, snap.schemaJson.map(parseSchema)),
          dirPrefix = zDirPrefix(cols))
        // output depends only on the tail: ANY interleaved commit that
        // leaves the victims untouched rebases (its files just join the
        // next run's tail)
        publishRmw(root, snap, victims = victims, staged = staged,
          readConjuncts = None, notesFn = _ + "cluster", changes = None,
          interloperHot = Some(_ => false))()
      }
      }
    }
  }

  private val ZBits = 8 // 256 rank buckets per clustered dimension

  /** The interleaved-bits z-value of `cols` as ONE codegen'd Column: per
    * column, a rank bucket in [0, 256) via boundaries sampled ONCE on the
    * driver (literals thereafter — rows never see a second pass over the
    * table), then bit i of column j lands at position `i*k + j`. NULLs
    * take bucket 0 (they sort first, matching the stats layer's
    * nulls-keep behavior). */
  private def zValue(df: DataFrame, cols: Seq[String], rows: Long): Column = {
    val k = cols.size
    val buckets = cols.map(c => rankBucket(df, c, rows).cast("long"))
    (for (j <- 0 until k; i <- 0 until ZBits)
      yield shiftleft(shiftright(buckets(j), i).bitwiseAND(lit(1L)), i * k + j))
      .reduce(_ bitwiseOR _)
  }

  /** Rank-bucket expression for one column: 255 cut points from a
    * deterministic bounded sample (cap ~20k values collected, whatever
    * the table size), bucket = #cuts ≤ value via a higher-order `filter`
    * over the cut-point literal array — O(256) codegen'd comparisons per
    * row, no shuffle, no window. Works for every orderable type `lit`
    * can carry (integrals, fractionals, decimals, strings, dates,
    * timestamps); the driver-side sort uses the values' own Comparable,
    * which only has to APPROXIMATE Spark's ordering — a divergent corner
    * (UTF-8 vs UTF-16 supplementary order) costs clustering quality,
    * never correctness. */
  private def rankBucket(df: DataFrame, c: String, rows: Long): Column = {
    // a spread sample, not a first-N prefix: the fraction targets ~40k
    // survivors across the WHOLE table (a prefix-biased sample would
    // cluster the tail of the table into one bucket), capped at 40k
    // collected either way
    val fraction = math.min(1.0, 40000.0 / math.max(rows, 1L))
    val vals = df.select(col(c)).where(col(c).isNotNull)
      .sample(withReplacement = false, fraction = fraction, seed = 42L)
      .limit(40000).collect().map(_.get(0))
    val sorted = vals.sortWith { (a, b) =>
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val nB = 1 << ZBits
    val cuts =
      if (sorted.isEmpty) Array.empty[Any]
      else (1 until nB).map(i => sorted(((i.toLong * sorted.length) / nB).toInt
        .min(sorted.length - 1))).distinct.toArray
    if (cuts.isEmpty) lit(0)
    else {
      val arr = array(cuts.map(v => lit(v)).toIndexedSeq: _*)
      size(filter(arr, x => x <= col(c)))
    }
  }

  /** Drop all manifests except the newest `keepLast` (readers may no
    * longer pin the dropped versions; their exclusive data files become
    * vacuum-able). Rebuilds the checkpoint from the RETAINED manifests —
    * the one operation that may SHRINK the checkpointed reference set,
    * which is what lets [[vacuum]] actually reclaim the pruned versions'
    * files without ever re-parsing the whole log. */
  def pruneHistory(root: String, keepLast: Int = 1): Unit = {
    val vs = allVersions(root)
    val retained = vs.takeRight(keepLast.max(1))
      .flatMap(v => parseManifest(manifestPath(root, v))
        .map(m => v -> resolveEntries(root, v, m)))
    if (retained.isEmpty) return
    val cutMin = retained.map(_._1).min
    // rebuild the (shrunk) checkpoint BEFORE deleting anything, and let a
    // write failure ABORT the prune: the crash window then leaves either
    // the old conservative checkpoint with every manifest intact, or the
    // new checkpoint whose floor manifest is retained — never a floor
    // pointing at a deleted manifest. The new floor sits at the OLDEST
    // retained version and carries its complete resolved file list: it is
    // the resolution base for every retained delta once the prefix (and
    // any pre-cut checkpoint) is deleted. Refs shrink to the retained
    // versions' resolved directories — what lets vacuum finally reclaim
    // the pruned versions' files.
    // If the floor manifest is a DELTA, rewrite it in place as a FULL
    // manifest (same headers, same timestamp, resolved file list) BEFORE
    // anything is deleted. Afterwards no ck-<v> file is load-bearing for
    // resolution — checkpoints go back to being pure accelerators — which
    // closes the race where a concurrent writer's thinCheckpoints,
    // holding a stale oldest-manifest floor, deletes ck-cutMin after this
    // prune removed the prefix manifests (the delta floor would then be
    // unresolvable). A reader racing the swap sees either the old delta
    // (prefix still intact — deletions come after) or the equivalent full
    // manifest: ATOMIC_MOVE, no torn state.
    retained.find(_._1 == cutMin).foreach { case (_, resolved) =>
      parseManifest(manifestPath(root, cutMin)).filter(_.delta).foreach { fm =>
        rewriteAsFull(root, cutMin, fm, resolved)
      }
    }
    writeCheckpoint(root, Checkpoint(cutMin,
      retained.flatMap(_._2.flatMap(refKeys)).toSet,
      retained.find(_._1 == cutMin).map(_._2).getOrElse(Seq.empty)))
    vs.filter(_ < cutMin).foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    allCkVersions(root).filter(_ < cutMin)
      .foreach(v => Files.deleteIfExists(ckPath(root, v)))
  }

  /** Replace version `v`'s DELTA manifest with the equivalent FULL
    * manifest: identical headers (partition columns, original publish
    * timestamp — versionAt semantics survive — schema, mapping, retired,
    * notes), the resolved complete file list instead of the delta
    * encoding. Atomic swap; content-equivalent by construction, so any
    * concurrent reader is correct either way. */
  private def rewriteAsFull(root: String, v: Long, m: Manifest,
      resolved: Seq[FileEntry]): Unit = {
    val body = (m.partCols.map { case (pc, dt) => s"p\t$pc\t${dt.catalogString}" } ++
      m.timestampMs.map(ts => s"t\t$ts").toSeq ++
      m.schemaJson.map("s\t" + _).toSeq ++
      m.mapping.toSeq.sorted.map { case (p, l) => s"m\t$p\t$l" } ++
      m.retired.toSeq.sorted.map("x\t" + _) ++
      resolved.map(renderEntry("f", _, withPart = m.partCols.nonEmpty)) ++
      m.notes.toSeq.sorted.map("n\t" + _) :+ "commit")
      .mkString("", "\n", "\n")
    val tmp = logDir(root).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(root, v),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Default [[vacuum]] retention: staged-but-unpublished data younger
    * than this is presumed to belong to an in-flight committer and is
    * left alone (the Delta vacuum discipline, scaled to single-commit
    * staging times rather than query lifetimes). */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  /** Delete every `data/c-*` directory not referenced by ANY retained
    * manifest — CAS losers' and crashed writers' staged batches, plus
    * versions released by [[pruneHistory]] — PROVIDED the directory has
    * been quiescent for `graceMs`. The grace window is what makes vacuum
    * safe concurrent with writers: between [[stageData]] and [[publish]]
    * a committer's data directory is referenced by no manifest yet, so an
    * ungraced sweep would delete it and let the subsequent CAS publish a
    * manifest pointing at missing files. With the mtime grace, only
    * stagings older than any plausible in-flight commit are swept; pass
    * `graceMs = 0` only when no writer can be mid-commit (tests,
    * single-writer maintenance windows). Crashed publishers' `.tmp-*`
    * manifest leftovers age out under the same rule. Returns directories
    * removed. */
  def vacuum(root: String, graceMs: Long = DefaultVacuumGraceMs): Int = {
    // referenced set via the checkpoint when one exists: its refs cover
    // every manifest at or below its floor BY INVARIANT (cumulative at
    // write, rebuilt by pruneHistory), so only the version SUFFIX above
    // the floor is parsed — vacuum on a 10⁴-commit log stops being a
    // 10⁴-manifest parse. The checkpointed refs are conservative
    // (pruned versions' dirs stay protected until pruneHistory rebuilds
    // the checkpoint), which is the safe direction for a deleter.
    // STALE-FLOOR GUARD: the fast path is only sound when the chain from
    // the checkpointed floor to the latest version is contiguous, which —
    // versions being dense and pruning prefix-only — holds exactly when
    // the floor manifest itself still exists. A checkpoint whose floor
    // manifest was pruned (a pruneHistory that crashed mid-sequence, a
    // failed rebuild) would make probeLatest stop at the gap and the
    // referenced set omit directories first referenced ABOVE the floor —
    // and a deleter must never run on an under-approximated reference
    // set. Fall back to the full parse instead.
    val referenced: Set[String] = readCheckpoint(root) match {
      case Some(ck) if Files.isRegularFile(manifestPath(root, ck.version)) =>
        val latest = probeLatest(root, ck.version)
        ck.refs ++ ((ck.version + 1) to latest).flatMap(v =>
          parseManifest(manifestPath(root, v)).toSeq.flatMap(refDirs))
      case _ =>
        // full-parse fallback: every retained manifest's referenced dirs
        // (adds for deltas, the whole list for fulls) PLUS every surviving
        // snapshot checkpoint's file list — a delta may carry files by
        // reference whose +f manifest was pruned; the ck entries are then
        // the only metadata naming them
        allVersions(root)
          .flatMap(v => parseManifest(manifestPath(root, v)))
          .flatMap(refDirs).toSet ++
          allCkVersions(root).flatMap(parseCk(root, _))
            .flatMap(_.entries.flatMap(refKeys)).toSet
    }
    val cutoff = System.currentTimeMillis() - graceMs
    val dataDir = new java.io.File(s"$root/data")
    val orphans = Option(dataDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        (d.getName.startsWith("c-") || d.getName.startsWith("dv-") ||
          d.getName.startsWith("cdc-")) &&
        !referenced.contains(s"data/${d.getName}") &&
        quiescentSince(d) <= cutoff)
    orphans.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    // a publisher that crashed between manifest-tmp write and hard-link
    // leaks one .tmp file in _txlog; age those out under the same grace
    Option(logDir(root).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile &&
        (f.getName.startsWith(".tmp-") || f.getName.startsWith(".ckpt-tmp-")) &&
        f.lastModified() <= cutoff)
      .foreach(f => Files.deleteIfExists(f.toPath))
    orphans.length
  }

  /** Newest mtime anywhere under `d` — a staging Spark is still writing
    * keeps bumping this, so "old" means genuinely abandoned. */
  private def quiescentSince(d: java.io.File): Long = {
    val children = Option(d.listFiles()).getOrElse(Array.empty)
    (d.lastModified() +: children.map(quiescentSince)).max
  }

  /** Fresh per-run txlog root under target/ (the maintenance queries
    * mutate their fixture, so each run must start clean). Shared by the
    * s7/s8/s10/s11/s12 defs. */
  private[operators] def freshRoot(dir: String, tag: String): String = {
    val root = s"${graft.Paths.work}/graft-maint/${new java.io.File(dir).getName}/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    // this path's next incarnation restarts version numbering — stale
    // append-step verdicts must not certify the new log's ranges
    invalidateAppendSteps(root)
    root
  }

  private def docCk = sum((col("doc_id") + 1) * length(col("text").cast("binary")))
    .cast("long").as("ck")

  val defs: Seq[QueryDef] = Seq(
    // S10: the transactional story under the differential gate — init,
    // keyed MERGE, targeted DELETE land as versions 1..3, and the result
    // reads ALL THREE pinned versions after the fact (time travel): one
    // row per version with count + content checksum. The oracle states
    // each version's table directly from the immutable source — a hash
    // match certifies snapshot isolation (later commits leave earlier
    // versions byte-stable), not just final state.
    QueryDef("s10_txlog_timetravel",
      """WITH merged AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN md5(text) ELSE text END AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id < 50)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck
        |FROM documents
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT)
        |FROM merged
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT)
        |FROM merged WHERE doc_id % 13 <> 0
        |ORDER BY version""".stripMargin) { (s, dir) =>
      val root = freshRoot(dir, "txlog-docs")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TxLog.init(s, root, docs) // v1
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text"))
      val inserts = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("text"))
      TxLog.upsert(s, root, updates.unionByName(inserts), "doc_id") // v2
      TxLog.delete(s, root, col("doc_id") % 13 === 0) // v3
      (1 to 3).map { v =>
        TxLog.read(s, root, v.toLong)
          .agg(count(lit(1)).cast("long").as("n_docs"), docCk)
          .select(lit(v).as("version"), col("n_docs"), col("ck"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // S11: the full log lifecycle — three effectively-once folds, a
    // replayed tag (must no-op), compaction, history pruning and an
    // ungraced vacuum — after which the store still equals the oracle's
    // from-scratch recompute. Lifecycle facts ride as verdict booleans
    // (the s5 pattern): the replay was refused, maintenance landed the
    // expected version/file/sweep counts.
    QueryDef("s11_txlog_fold",
      """WITH g AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |             count(*) AS n,
        |             sum(CAST(floor(value * 100) AS BIGINT)) AS s_ck,
        |             min(CAST(floor(value * 100) AS BIGINT)) AS mn,
        |             max(CAST(floor(value * 100) AS BIGINT)) AS mx
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(s_ck) AS BIGINT) AS total_ck,
        |       CAST(min(mn) AS BIGINT) AS mn, CAST(max(mx) AS BIGINT) AS mx,
        |       TRUE AS replay_noop, TRUE AS maintained
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val store = freshRoot(dir, "txlog-rollup")
      val ev = Tables.events(s, dir)
      val DayUs = 86400L * 1000000L
      def slice(r: Int) = ev.filter(expr(s"ts_us div $DayUs") % 3 === r)
      (0 to 2).foreach { r =>
        require(Rollup.fold(s, store, slice(r), s"slice-$r"),
          s"slice-$r unexpectedly marked folded in a fresh store")
      }
      val replayNoop = !Rollup.fold(s, store, slice(0), "slice-0")
      TxLog.compact(s, store, 2) // v4 (or a metadata no-op when already ≤2 files)
      TxLog.pruneHistory(store, keepLast = 1)
      val swept = TxLog.vacuum(store, graceMs = 0L)
      val snap = TxLog.snapshot(store).get
      // version ≥ 3: three folds landed; a compact no-op (store already
      // ≤ target files) legitimately leaves the count at 3
      val maintained = snap.version >= 3L && snap.files.size <= 2 && swept >= 1
      TxLog.read(s, store)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("n").as("n_events"),
          sum("s_ck").as("total_ck"), min("mn").as("mn"), max("mx").as("mx"))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("maintained", lit(maintained))
        .orderBy("event_type")
    },

    // S14: column mapping under the differential gate — rename (v2),
    // additive add (v3), drop (v4), and a re-add that collides with BOTH
    // a renamed-away physical name and a dropped one (v5). The result
    // reads ALL FIVE pinned versions after the fact; the oracle restates
    // each version's logical table from the immutable source. The v5 row
    // is the resurrection guard under the hash: its extra_ck sums the
    // NEW 'text' column, so if old files' physical 'text' (renamed away
    // at v2) leaked into the re-added logical 'text', the sum — and the
    // hash — would include 500 old documents instead of 20 fresh tags.
    QueryDef("s14_column_mapping",
      """WITH base AS (SELECT doc_id, text FROM documents),
        |a3 AS (SELECT doc_id + 1000000 AS doc_id, md5(text) AS body,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS wc
        |       FROM base WHERE doc_id < 40),
        |v3 AS (SELECT doc_id, text AS body, CAST(NULL AS BIGINT) AS wc FROM base
        |       UNION ALL SELECT doc_id, body, wc FROM a3),
        |a5 AS (SELECT doc_id + 2000000 AS doc_id, md5(text) AS body,
        |       'T' || CAST(doc_id AS VARCHAR) AS text2
        |       FROM base WHERE doc_id < 20),
        |v5 AS (SELECT doc_id, body, CAST(NULL AS VARCHAR) AS text2 FROM v3
        |       UNION ALL SELECT doc_id, body, text2 FROM a5)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck,
        |       CAST(NULL AS BIGINT) AS extra_ck
        |FROM base
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT),
        |       CAST(NULL AS BIGINT)
        |FROM base
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(body))) AS BIGINT),
        |       CAST(sum(wc) AS BIGINT)
        |FROM v3
        |UNION ALL
        |SELECT 4, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(body))) AS BIGINT),
        |       CAST(NULL AS BIGINT)
        |FROM v3
        |UNION ALL
        |SELECT 5, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(body))) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text2))) AS BIGINT)
        |FROM v5
        |ORDER BY version""".stripMargin) { (s, dir) =>
      val root = freshRoot(dir, "txlog-colmap")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TxLog.init(s, root, docs) // v1
      val v2 = TxLog.renameColumn(s, root, "text", "body") // metadata-only
      val add3 = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(col("text").cast("binary")).as("body"),
          octet_length(col("text")).cast("long").as("wc"))
      val v3 = TxLog.commitAppend(s, root, add3, expected = v2)
      val v4 = TxLog.dropColumn(s, root, "wc") // metadata-only
      val add5 = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          md5(col("text").cast("binary")).as("body"),
          concat(lit("T"), col("doc_id").cast("string")).as("text"))
      val v5 = TxLog.commitAppend(s, root, add5, expected = v4)
      def census(v: Long, mainCol: String, extra: Option[Column]): DataFrame =
        TxLog.read(s, root, v).agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum((col("doc_id") + 1) * octet_length(col(mainCol))).cast("long").as("ck"),
          extra.getOrElse(lit(null)).cast("long").as("extra_ck"))
          .select(lit(v.toInt).as("version"), col("n_docs"), col("ck"), col("extra_ck"))
      Seq(
        census(1L, "text", None),
        census(v2, "body", None),
        census(v3, "body", Some(sum(col("wc")))),
        census(v4, "body", None),
        census(v5, "body",
          Some(sum((col("doc_id") + 1) * octet_length(col("text"))))))
        .reduce(_ unionByName _).orderBy("version")
    },

    // S15: metadata-only RESTORE under the differential gate — v2 deletes
    // a third of the table, v3 rolls back to v1 WITHOUT restaging a byte
    // (the restored manifest carries v1's files by reference; the query
    // asserts zero new data directories as a verdict boolean). The
    // oracle's v3 row simply re-states v1 — a hash match certifies the
    // rollback is exact AND that v2 stays pinnable after it.
    QueryDef("s15_restore",
      """WITH base AS (SELECT doc_id, text FROM documents)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck,
        |       TRUE AS metadata_only
        |FROM base
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT), TRUE
        |FROM base WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT), TRUE
        |FROM base
        |ORDER BY version""".stripMargin) { (s, dir) =>
      val root = freshRoot(dir, "txlog-restore")
      TxLog.init(s, root, Tables.documents(s, dir).select("doc_id", "text")) // v1
      TxLog.delete(s, root, col("doc_id") % 3 === 0) // v2
      def dataDirs = Option(new java.io.File(s"$root/data").listFiles())
        .getOrElse(Array.empty).count(_.isDirectory)
      val before = dataDirs
      TxLog.restore(s, root, 1L) // v3 — by reference, zero data movement
      val metadataOnly = dataDirs == before
      (1 to 3).map { v =>
        TxLog.read(s, root, v.toLong)
          .agg(count(lit(1)).cast("long").as("n_docs"), docCk)
          .select(lit(v).as("version"), col("n_docs"), col("ck"),
            lit(metadataOnly).as("metadata_only"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // S16: incremental (file-level change-feed) read — the per-cycle
    // frame a downstream incremental consumer processes: rows added
    // between two pinned versions, resolved purely from the manifests
    // (added files only; the base is never rescanned). Two ranges are
    // hash-certified; the rewrite guard (a delete lands at v4, making
    // 1..latest NOT append-only) rides as a verdict boolean — the
    // refusal is the semantics: a silent wrong answer is the failure
    // mode this API must not have.
    QueryDef("s16_incremental_read",
      """WITH base AS (SELECT doc_id, text FROM documents)
        |SELECT 'v1_v3' AS rng, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck,
        |       TRUE AS rewrite_refused
        |FROM base WHERE doc_id >= 200
        |UNION ALL
        |SELECT 'v2_v3', CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT), TRUE
        |FROM base WHERE doc_id >= 350
        |ORDER BY rng""".stripMargin) { (s, dir) =>
      val root = freshRoot(dir, "txlog-incr")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TxLog.init(s, root, docs.filter(col("doc_id") < 200)) // v1
      TxLog.appendOnceMonotone(s, root, "b", 1L,
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)) // v2
      TxLog.appendOnceMonotone(s, root, "b", 2L,
        docs.filter(col("doc_id") >= 350)) // v3
      TxLog.delete(s, root, col("doc_id") % 9999 === -1) // no-op predicate…
      // …but still a REWRITE commit (v4 restages every file), so the
      // open range 1..latest must refuse as not-append-only
      val refused =
        try { TxLog.readAppended(s, root, 1L); false }
        catch { case _: IllegalArgumentException => true }
      def census(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("n_docs"), docCk)
          .select(lit(tag).as("rng"), col("n_docs"), col("ck"),
            lit(refused).as("rewrite_refused"))
      census("v1_v3", TxLog.readAppended(s, root, 1L, 3L))
        .unionByName(census("v2_v3", TxLog.readAppended(s, root, 2L, 3L)))
        .orderBy("rng")
    }
  )
}
