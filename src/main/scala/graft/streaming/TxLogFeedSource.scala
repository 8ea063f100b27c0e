package graft.streaming

import graft.operators.TxLog
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Typed refusal when a mid-stream schema change (rename, retype, drop)
  * makes the pinned stream schema unable to represent a version's rows:
  * the batch ends at the last admissible version and the NEXT trigger
  * fails with this — restart the query (new checkpoint or a fresh
  * startingVersion) against the evolved schema. Never a silent misbind:
  * a renamed column surfacing NULL under its old name, or an old name
  * reading another column's data, is data corruption a long-running sync
  * consumer would fold into its state. */
final class TxLogStreamSchemaChangedException(
    val root: String, val version: Long, detail: String)
    extends IllegalStateException(
      s"txlog-feed($root): version $version changed the table schema in a " +
        s"way the stream's pinned schema cannot represent ($detail) — " +
        "restart the streaming query to adopt the new schema")

/** Typed refusal when a recovering consumer's next offset precedes the
  * oldest retained manifest ([[TxLog.pruneHistory]] ran past the
  * checkpoint): the feed for versions at or below the prune floor is
  * unrecoverable, so the only honest answers are this error or a wrong
  * empty batch — and a wrong empty batch silently loses changes. Names
  * the earliest version a fresh query could legally start from. */
final class TxLogStreamRetentionException(
    val root: String, val offset: Long, val earliest: Option[Long])
    extends IllegalStateException(
      s"txlog-feed($root): checkpointed offset $offset is no longer " +
        s"retained (history was pruned); earliest retained version is " +
        s"${earliest.map(_.toString).getOrElse("<none>")} — restart the " +
        "query from a retained startingVersion (the skipped range's " +
        "changes are unrecoverable from the log)")

/** STRUCTURED STREAMING SOURCE over a transaction-log table — the read
  * half of the streaming story ([[TxLog.streamingSink]] is the write
  * half): `spark.readStream.format("graft.streaming.TxLogFeedProvider")
  * .option("root", …).load()` turns the table itself into a stream, the
  * Delta `readStream` shape. A feed consumer (an index sync, a derived
  * table) becomes a continuously running query instead of a manually
  * polled `readChanges` loop.
  *
  * OFFSETS ARE MANIFEST VERSIONS. Each micro-batch delivers the rows of
  * versions `(start, end]` — resolved by [[TxLog.readChanges]] (mode
  * `changes`, the default: row-level insert/delete events tagged
  * `_change_type` + `_commit_version`) or [[TxLog.readAppended]] (mode
  * `appends`: net new rows only, for append-shaped consumers). Versions
  * are dense under the publish CAS and manifests are immutable, so a
  * batch replayed from the query checkpoint after a crash re-reads
  * exactly the same rows — end-to-end exactly-once when the sink side
  * dedups by batchId (foreachBatch + [[TxLog.appendOnceMonotone]], or
  * [[graft.operators.SigIndex.syncStream]]'s version high-water).
  * Change attribution is inherited from readChanges: maintenance
  * rewrites (`cdc_noop`) contribute nothing, opted-in COW DML reads its
  * commit-time change files, overwrites attribute from the manifest
  * diff — the stream never stalls on a rewrite.
  *
  * `startingVersion` (default: the table's current version at stream
  * start, i.e. only NEW commits flow; the keywords `earliest` — replay
  * everything still retained — and `latest` are accepted, the Delta
  * source shapes) anchors the first batch. On a PRUNED log `earliest`
  * still works (the Delta contract after log cleanup): the earliest
  * retained version e has no parent manifest to diff against, so the
  * first batch delivers e's SNAPSHOT as inserts (`_commit_version` e —
  * the earliest replayable truth) and later versions flow normally;
  * an explicit numeric anchor below the prune floor keeps the strict
  * typed-retention refusal; `startingTimestamp`
  * (exclusive with it) resolves the anchor through the manifests'
  * exact commit-time headers instead. Rate limiting:
  * `maxVersionsPerBatch` bounds each micro-batch's version count,
  * `maxBytesPerBatch` its newly-referenced data bytes (manifest footer
  * sizes, soft-capped at one version minimum — the Delta
  * `maxBytesPerTrigger` shape); both compose, versions first.
  * RETENTION: the range a restarted query re-reads must still be
  * retained — run [[TxLog.pruneHistory]] behind the slowest consumer's
  * checkpoint, the standard CDC-retention trade. A checkpoint that
  * falls behind the prune floor gets a TYPED refusal
  * ([[TxLogStreamRetentionException]], naming the earliest retained
  * version) — never a wrong-empty batch that would silently skip the
  * pruned range's changes.
  *
  * SCHEMA is pinned at stream start (the Structured Streaming
  * contract), and every micro-batch range is ADMITTED version by
  * version against that pin:
  *
  *  - ADDITIVE evolution (a commit appends new columns; every pinned
  *    name keeps its type) is tolerated: the batch projects each
  *    version onto the pinned schema, so the new columns stay invisible
  *    until the query restarts — the documented Delta-source behavior.
  *  - Old-vintage versions MISSING pinned columns (a backfilling
  *    `startingVersion` predating a column add) surface them as NULL —
  *    exactly the value those rows have under the evolved schema.
  *  - A RENAME / RETYPE / DROP (any change the pin cannot represent:
  *    a mapping or retired-set change, a shared name with a different
  *    type, a post-pin column removal) ends the batch at the last
  *    admissible version; the next trigger raises the typed
  *    [[TxLogStreamSchemaChangedException]] — restart required, never a
  *    silent misbind.
  *
  * At 100 TB this source moves only each batch's CHANGED rows (O(feed),
  * never O(table)): the per-version cost model is readChanges' —
  * appended files read once, MoR deletes read exactly the victim
  * positions — and each trigger's admission, byte cap and batch gates
  * are each one [[TxLog.steps]] walk: O(chain to the floor + range)
  * manifest parses, no data I/O, nothing memoized across triggers. */
class TxLogFeedProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "txlog-feed"

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), TxLogFeedSource.schemaFor(
      sqlContext.sparkSession, TxLogFeedSource.opts(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new TxLogFeedSource(sqlContext.sparkSession,
      TxLogFeedSource.opts(parameters))
}

private[streaming] object TxLogFeedSource {
  final case class Opts(root: String, mode: String,
      startingVersion: Option[Long], maxVersionsPerBatch: Option[Long],
      maxBytesPerBatch: Option[Long],
      // the anchor is SYNTHETIC: `startingVersion=earliest` resolved on
      // a PRUNED log (earliest retained e > 1), so the anchor e-1 has no
      // manifest by construction — the first batch synthesizes snapshot
      // e as inserts instead of diffing against the missing parent
      anchorSynth: Boolean = false)

  /** DataFrameReader options are caller-cased: normalize keys once. */
  def opts(parameters: Map[String, String]): Opts = {
    val p = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val root = p.getOrElse("root",
      throw new IllegalArgumentException(
        "txlog-feed: option 'root' (table path) is required"))
    val mode = p.getOrElse("mode", "changes")
    require(mode == "changes" || mode == "appends",
      s"txlog-feed: mode must be changes|appends, got $mode")
    val maxV = p.get("maxversionsperbatch").map(_.toLong)
    maxV.foreach(n => require(n >= 1,
      s"txlog-feed: maxVersionsPerBatch must be >= 1, got $n"))
    val maxB = p.get("maxbytesperbatch").map(_.toLong)
    maxB.foreach(n => require(n >= 1,
      s"txlog-feed: maxBytesPerBatch must be >= 1, got $n"))
    // "earliest" = replay everything still retained (anchor one BELOW
    // the earliest manifest so the first batch includes it); "latest" =
    // the default only-new-commits behavior, accepted for symmetry
    // (the Delta source's keyword shapes). On a PRUNED log (earliest
    // retained e > 1) the anchor e-1 has no manifest, so its diff is
    // uncomputable: the keyword still works — the Delta-source contract
    // after log cleanup — by marking the anchor SYNTHETIC; the first
    // batch delivers snapshot e itself as inserts (`_commit_version` e:
    // the pre-e history is unrecoverable, so e's full state IS the
    // earliest replayable truth) and versions after e flow normally.
    // An explicit NUMERIC startingVersion keeps the strict contract:
    // an unretained anchor refuses with the typed retention error.
    var synth = false
    val sv = p.get("startingversion").map {
      case s if s.equalsIgnoreCase("earliest") =>
        val e = graft.operators.TxLog.earliestVersion(root).getOrElse(
          throw new IllegalArgumentException(
            s"txlog-feed: no committed version at $root"))
        if (e > 1L) synth = true
        e - 1L
      case s if s.equalsIgnoreCase("latest") =>
        graft.operators.TxLog.currentVersion(root)
      case s => s.toLong
    }
    // startingTimestamp resolves through the manifests' exact `t` commit
    // headers (versionAt): the stream starts AFTER the newest version
    // published at-or-before the timestamp — its changes are already
    // reflected in state a consumer bootstrapped "as of" that time
    val st = p.get("startingtimestamp").map(_.toLong)
    require(sv.isEmpty || st.isEmpty,
      "txlog-feed: startingVersion and startingTimestamp are exclusive")
    val anchor = sv.orElse(st.map(ts =>
      graft.operators.TxLog.versionAt(root, ts).getOrElse(
        throw new IllegalArgumentException(
          s"txlog-feed: no version published at or before $ts in $root"))))
    Opts(root, mode, anchor, maxV, maxB, anchorSynth = synth)
  }

  /** The stream's fixed schema: the table's CURRENT logical schema,
    * plus the change-feed meta columns in `changes` mode. */
  def schemaFor(spark: SparkSession, o: Opts): StructType = {
    val base = TxLog.read(spark, o.root).schema
    if (o.mode == "appends") base
    else base.add("_change_type", StringType).add("_commit_version", LongType)
  }
}

class TxLogFeedSource(spark: SparkSession, o: TxLogFeedSource.Opts)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  // the first batch's floor: an explicit startingVersion, or the version
  // current at stream START (only new commits flow) — resolved ONCE so a
  // slow first trigger can't move the anchor
  private val start0: Long =
    o.startingVersion.getOrElse(TxLog.currentVersion(o.root))

  // the schema-evolution pin: the snapshot CURRENT at stream start —
  // admission compares every batch version's committed logical schema +
  // mapping against this. None of it re-resolves per trigger.
  private val pin: TxLog.Snapshot = TxLog.snapshot(o.root).getOrElse(
    throw new IllegalStateException(
      s"txlog-feed(${o.root}): no committed version — the table must " +
        "exist before a stream can read it"))
  private val pinLogical: Option[StructType] = TxLog.logicalSchemaOf(pin)

  override val schema: StructType = TxLogFeedSource.schemaFor(spark, o)

  private def versionOf(x: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    x match {
      case l: LongOffset => l.offset
      // a checkpoint-recovered offset arrives serialized; LongOffset.json
      // is the bare number
      case other => other.json.trim.toLong
    }

  /** Why version `sv` cannot be represented under the pinned stream
    * schema — None when it can. Adopted / pre-schema vintages (either
    * side lacking a committed schema) skip the check: inference governs
    * there, exactly as it does for batch reads. */
  private def inadmissible(sv: TxLog.Snapshot): Option[String] = {
    val v = sv.version
    val lvOpt = TxLog.logicalSchemaOf(sv)
    (pinLogical, lvOpt) match {
      case (Some(lp), Some(lv)) =>
        if (sv.mapping != pin.mapping || sv.retired != pin.retired)
          Some("column rename (mapping change) relative to the pinned schema")
        else {
          val byName = lv.fields.map(f => f.name.toLowerCase -> f).toMap
          // an OLD-vintage field NARROWER than the pin in a safe
          // widening domain (int under a bigint pin: the vintage
          // predates a type widening) is representable — the batch
          // projection upcasts. Everything else refuses: a vintage
          // WIDER than the pin would truncate, and a POST-pin commit at
          // a different width — even a narrower one an upcast could
          // read — is a genuine schema change the pinned consumer must
          // learn about loudly (the r14 typed-restart contract), never
          // have silently papered over.
          val retyped = lp.fields.find(f =>
            byName.get(f.name.toLowerCase).exists(vf =>
              vf.dataType != f.dataType &&
                !(v <= pin.version &&
                  graft.operators.TxLog.widens(vf.dataType, f.dataType))))
          val dropped =
            if (v <= pin.version) None // old vintage: missing = pre-add, NULL
            else lp.fields.find(f => !byName.contains(f.name.toLowerCase))
          retyped.map(f => s"column ${f.name} retyped to " +
              byName(f.name.toLowerCase).dataType.simpleString)
            .orElse(dropped.map(f => s"column ${f.name} dropped"))
        }
      case _ => None
    }
  }

  // versions ≤ this have passed admission — latestOffset re-walks only
  // the new suffix each trigger (manifest header parses, no data I/O)
  @volatile private var admittedThrough: Long = start0

  private def retention(v: Long) =
    new TxLogStreamRetentionException(o.root, v, TxLog.earliestVersion(o.root))

  /** [[TxLog.steps]] over (from, to], refusing a missing manifest with
    * the typed retention error. `anchored = false` never resolves `from`
    * itself: the walks that only read each version's own schema, and the
    * first batch of a synthetic `earliest` stream, whose anchor has no
    * manifest by construction (its first version diffs against empty). */
  private def steps(from: Long, to: Long, anchored: Boolean) =
    TxLog.steps(o.root, from, to, anchored)(v => throw retention(v))._2

  /** Cap `end` at the last admissible version in (from, end]; throw the
    * typed schema error when from+1 itself refuses (no progress is
    * possible — the contract is a loud restart, not a stall). */
  private def admit(from: Long, end: Long): Long = {
    var v = math.max(from, admittedThrough)
    val walk = steps(v, end, anchored = false)
    while (walk.hasNext) {
      val sv = walk.next()._2
      inadmissible(sv) match {
        case Some(why) =>
          if (sv.version == from + 1)
            throw new TxLogStreamSchemaChangedException(o.root, sv.version, why)
          return v
        case None => v = sv.version
      }
    }
    if (v > admittedThrough) admittedThrough = v
    v
  }

  /** The typed retention refusal for a batch floor that is no longer
    * retained — None when it is. readChanges resolves each version
    * against its parent, so a pruned floor would otherwise surface as an
    * untyped internal error (or, worse, a fresh-start fallback that
    * silently skips the range). The two manifest-less floors get the
    * equivalent check on the version they actually anchor: genesis
    * (from 0) requires version 1 retained (a pruned prefix makes the
    * replay unrecoverable), and a synthetic `earliest` anchor requires
    * its snapshot version from+1 retained (a further prune moved the
    * earliest truth past it) — so the retention refusal is uniformly
    * TYPED, never an internal reader error. `isFirst` = the engine passed
    * NO start offset, i.e. this is the stream's very first batch (or its
    * checkpoint replay) — the ONLY place the synthetic floor may apply: a
    * LATER batch whose floor happens to equal a freshly re-resolved
    * anchor (crash-replay of an uncommitted range after a further prune
    * re-anchored `earliest`) must take the strict path, else
    * already-delivered rows would silently re-deliver as the synthesized
    * snapshot. */
  private def unretainedFloor(from: Long,
      isFirst: Boolean): Option[TxLogStreamRetentionException] = {
    val probe: Option[Long] =
      if (isFirst && o.anchorSynth) Some(from + 1)
      else if (from == 0L) Some(1L).filter(_ =>
        TxLog.earliestVersion(o.root).exists(_ > 1L))
      else Some(from)
    probe.filter(v => TxLog.snapshot(o.root, v).isEmpty).map(retention)
  }

  // ADMISSION CONTROL (the FileStreamSource pattern): `latestOffset`
  // replaces getOffset as the engine's next-end oracle, which lets the
  // source (a) rate-limit a backlog into bounded micro-batches
  // (`maxVersionsPerBatch` — a consumer restarted a week behind folds
  // the week version-range by version-range instead of as one giant
  // batch) and (b) support Trigger.AvailableNow EXACTLY: the available
  // ceiling is pinned once at prepare time, the query drains to it in
  // rate-limited steps and stops — no single-batch fallback.
  @volatile private var availableCeiling: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableCeiling = Some(TxLog.currentVersion(o.root))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** Cap `end` so the versions in (from, end] together reference at most
    * `budget` NEW data-file bytes (footer sizes from the manifests — no
    * data I/O), always admitting at least one version: offsets are
    * versions, so a single commit larger than the budget still flows as
    * one batch (the Delta `maxBytesPerTrigger` soft-cap shape). The
    * metric is the bytes of files first referenced at each version —
    * exactly what an appends-mode batch reads, and the dominant term of
    * a changes-mode one (MoR deletes read only victim positions). The
    * walk stops at the first version past the budget, and a missing
    * manifest in the range raises the same TYPED retention error the
    * plain admission path does — a silent `return` here would stall the
    * query forever instead of the loud restart contract. The baseline
    * is EMPTY (every file of the version counts) only where the contract
    * says so: genesis, and the synthetic `earliest` anchor's own snapshot
    * version, which the first batch really does deliver in full. */
  private def byteCap(from: Long, end: Long, budget: Long,
      isFirst: Boolean): Long = {
    var acc = 0L
    val walk = steps(from, end, anchored = !(isFirst && o.anchorSynth))
    while (walk.hasNext) {
      val (prev, sv) = walk.next()
      val prevPaths = prev.entries.map(_.path).toSet
      val added = sv.entries.iterator
        .filterNot(e => prevPaths(e.path)).flatMap(_.size).sum
      if (sv.version > from + 1 && acc + added > budget) return sv.version - 1
      acc += added
    }
    end
  }

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = Option(start).map(versionOf).getOrElse(start0)
    val isFirst = Option(start).isEmpty
    unretainedFloor(from, isFirst).foreach(e => throw e)
    val avail = availableCeiling.getOrElse(TxLog.currentVersion(o.root))
    val end0 = o.maxVersionsPerBatch match {
      case Some(n) if avail - from > n => from + n
      case _ => avail
    }
    val end = o.maxBytesPerBatch match {
      case Some(b) if end0 > from => byteCap(from, end0, b, isFirst)
      case _ => end0
    }
    val admitted = if (end <= from) from else admit(from, end)
    if (admitted <= from) null else LongOffset(admitted)
  }

  // the last end this source handed the engine — what the legacy plain-v1
  // getOffset path advances from, so a rate-limited backlog drains
  // batch-by-batch there too instead of pinning at start0+n forever (on
  // the admission-control path the engine drives latestOffset and this
  // is only ever read as a start fallback)
  @volatile private var lastEnd: Long = start0

  override def getOffset: Option[Offset] =
    // a null start = "no batch handed out yet" — the same first-batch
    // signal the admission-control path reads from Option(start)
    Option(latestOffset(
      if (lastEnd == start0) null else LongOffset(lastEnd),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()))
      .map(v => LongOffset(versionOf(v)))

  /** A schema-correct streaming frame that raises `err` only IF
    * EXECUTED. getBatch's gates must be lazy: at restart the engine
    * replays the LAST COMMITTED batch's getBatch purely to restore
    * source state and discards the frame unexecuted — that range was
    * already delivered, and it legally references one version BEFORE the
    * checkpoint offset (its floor) and the PREVIOUS schema pin, so an
    * eager gate would brick every legal resume after a prune or a
    * schema change. A genuinely re-executed batch (the crash-replay of
    * an UNCOMMITTED range) evaluates the frame and gets the same typed
    * error the live path raises. */
  private def failingBatch(err: Throwable): DataFrame = {
    val e = err // local capture: the task closure must not drag the source in
    val rdd = spark.sparkContext.parallelize(Seq(1), 1)
      .mapPartitions[org.apache.spark.sql.Row](_ => throw e)
    org.apache.spark.sql.graftbridge.Bridge.asStreaming(
      spark.createDataFrame(rdd, schema))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(start0)
    val to = versionOf(end)
    lastEnd = math.max(lastEnd, to)
    // checkpoint-replayed ranges bypass latestOffset: re-run the typed
    // gates here, LAZILY (see failingBatch) — recovery failures surface
    // as the same loud contracts as live ones exactly when the range is
    // genuinely re-executed. FIRST batch only (start == None): a
    // crash-replayed LATER range whose floor equals a freshly re-resolved
    // anchor (prune advanced `earliest` between sessions) must refuse on
    // its pruned floor, not re-deliver the snapshot as duplicates
    val synthFloor = start.isEmpty && o.anchorSynth
    val refusal: Option[Throwable] = unretainedFloor(from, start.isEmpty)
      .orElse(
        try steps(from, to, anchored = false).flatMap { case (_, sv) =>
          inadmissible(sv).map(
            new TxLogStreamSchemaChangedException(o.root, sv.version, _))
        }.nextOption()
        catch { case e: TxLogStreamRetentionException => Some(e) })
    if (refusal.isDefined) return failingBatch(refusal.get)
    val batch =
      if (synthFloor) {
        // first batch of a pruned-log `earliest` stream: the anchor's
        // parent manifest is gone, so version from+1 cannot be diffed —
        // deliver its SNAPSHOT as the initial state (inserts tagged with
        // its own commit version: the pre-prune history is
        // unrecoverable, so this is the earliest replayable truth), then
        // the rest of the range through the normal readers
        val e = from + 1
        val snap = TxLog.read(spark, o.root, e)
        if (o.mode == "appends") {
          if (to > e)
            snap.unionByName(TxLog.readAppended(spark, o.root, e, to),
              allowMissingColumns = true)
          else snap
        } else {
          val ins = snap.withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(e))
          if (to > e)
            ins.unionByName(TxLog.readChanges(spark, o.root, e, to),
              allowMissingColumns = true)
          else ins
        }
      } else if (o.mode == "appends") TxLog.readAppended(spark, o.root, from, to)
      else TxLog.readChanges(spark, o.root, from, to)
    // project onto the pinned schema EXPLICITLY: additive evolution's new
    // columns drop (invisible until restart), pinned columns an
    // old-vintage version lacks surface as typed NULL — never a
    // resolution error from a bare select. Then re-tag as a streaming
    // frame — a v1 Source must hand MicroBatchExecution an isStreaming
    // plan; the rows still compute distributed from the batch plan's
    // RDD, nothing materializes here.
    val have = batch.columns.map(_.toLowerCase).toSet
    val aligned = batch.select(schema.fields.map(f =>
      // the cast is a no-op on same-typed columns and the admitted
      // upcast on pre-widening vintages (int rows under a bigint pin)
      if (have(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    org.apache.spark.sql.graftbridge.Bridge.asStreaming(aligned)
  }

  override def stop(): Unit = ()
}
