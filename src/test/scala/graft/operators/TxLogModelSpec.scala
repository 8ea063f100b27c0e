package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Model-based test of the transaction log: a SEEDED random sequence of
  * table operations runs against both the real TxLog table and a trivial
  * in-memory reference model (a Map plus its version history), and the
  * table must equal the model after EVERY operation — including time
  * travel back to every retained version at the end. The ops compose in
  * orders no hand-written scenario covers (restore after upsert after
  * delete after compact...), which is exactly where a commit-log bug
  * would hide. Seeds are fixed: failures reproduce, the suite never
  * flakes. */
class TxLogModelSpec extends SparkSpec {

  import spark.implicits._

  /** One modeled version: the keyed contents plus the LOGICAL name of
    * the value column (exercising column mapping composed with every
    * other op). */
  private final case class MState(data: Map[Long, String], valueCol: String)

  /** The reference model: key -> value, with full version history. */
  private final class Model {
    var history: Vector[MState] = Vector.empty // index v-1
    def current: MState = history.last
    def commit(m: MState): Unit = history = history :+ m
    def version: Long = history.size.toLong
  }

  private def toDf(m: Map[Long, String], valueCol: String) =
    m.toSeq.toDF("id", valueCol)

  private def tableState(root: String, v: Long = -1L): MState = {
    val df = TxLog.read(spark, root, v)
    MState(df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap,
      df.columns(1))
  }

  private def runSequence(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val root = freshRoot(s"txlog-model-s$seed")
    val model = new Model
    def kv(n: Int): Map[Long, String] =
      (0 until n).map(_ => rnd.nextInt(40).toLong -> s"v${rnd.nextInt(1000)}").toMap

    // init
    val init = kv(8) + (1L -> "seed") // never empty
    TxLog.init(spark, root, toDf(init, "s"))
    model.commit(MState(init, "s"))

    var monotoneId = -1L
    val opLog = scala.collection.mutable.ListBuffer.empty[String]
    (1 to ops).foreach { i =>
      val opKind = rnd.nextInt(11)
      opLog += s"v${model.version + 1}=op$opKind"
      val cur = model.current
      opKind match {
        case 0 => // keyed upsert — a full rewrite: materializes the logical name
          val batch = kv(1 + rnd.nextInt(6))
          TxLog.upsert(spark, root, toDf(batch, cur.valueCol), "id")
          model.commit(MState(cur.data ++ batch, cur.valueCol))
        case 1 => // predicate delete (never empties the table: keep key 1)
          val m = 2 + rnd.nextInt(5)
          TxLog.delete(spark, root, col("id") % m === 0 && col("id") =!= 1L)
          model.commit(MState(
            cur.data.filter { case (k, _) => k % m != 0 || k == 1L },
            cur.valueCol))
        case 2 => // targeted update, assignments against the original row
          val m = 2 + rnd.nextInt(4)
          TxLog.updateWhere(spark, root, col("id") % m === 1,
            Seq(cur.valueCol -> concat(lit("u"), col(cur.valueCol))))
          model.commit(MState(cur.data.map { case (k, v) =>
            k -> (if (k % m == 1) s"u$v" else v)
          }, cur.valueCol))
        case 3 => // monotone append with fresh keys (append must not collide)
          monotoneId += 1
          val fresh = (0 to rnd.nextInt(3))
            .map(j => (1000L + monotoneId * 10 + j) -> s"m$monotoneId").toMap
          assert(TxLog.appendOnceMonotone(spark, root, "mb", monotoneId,
            toDf(fresh, cur.valueCol)))
          // a replay must no-op and must NOT create a version
          val vAfter = TxLog.currentVersion(root)
          assert(!TxLog.appendOnceMonotone(spark, root, "mb", monotoneId,
            toDf(fresh, cur.valueCol)))
          assert(TxLog.currentVersion(root) === vAfter)
          model.commit(MState(cur.data ++ fresh, cur.valueCol))
        case 4 => // compact: content-preserving; commits a version only when fragmented
          val before = TxLog.currentVersion(root)
          val after = TxLog.compact(spark, root, 2)
          if (after != before) model.commit(cur)
        case 5 => // metadata-only restore to a random RETAINED version
          val target = 1L + rnd.nextInt(model.version.toInt).toLong
          TxLog.restore(spark, root, target)
          model.commit(model.history((target - 1).toInt))
        case 6 => // overwrite commit (schema-stable here; content replaced)
          val fresh = kv(4 + rnd.nextInt(4)) + (1L -> "seed")
          TxLog.commitOverwrite(spark, root, toDf(fresh, cur.valueCol),
            expected = TxLog.currentVersion(root))
          model.commit(MState(fresh, cur.valueCol))
        case 7 => // metadata-only rename (column mapping), s <-> t flip
          val next = if (cur.valueCol == "s") "t" else "s"
          TxLog.renameColumn(spark, root, cur.valueCol, next)
          model.commit(MState(cur.data, next))
        case 8 => // merge-on-read delete: COW-delete semantics, zero rewrite —
          // composes with everything above (a later upsert/compact/overwrite
          // purges the vectors, restore crosses them, time travel pins them)
          val m = 2 + rnd.nextInt(5)
          TxLog.deleteMoR(spark, root, col("id") % m === 0 && col("id") =!= 1L)
          model.commit(MState(
            cur.data.filter { case (k, _) => k % m != 0 || k == 1L },
            cur.valueCol))
        case 9 => // CONDITIONAL MERGE: update matched evens, delete matched
          // odds (key 1 protected — the table must never empty), insert
          // new keys ≡ 0 (mod 3), and half the time reconcile away
          // unmatched keys ≡ m (mod 7) — every clause category composed
          // with every other op, mirrored exactly in the model
          val batch = kv(1 + rnd.nextInt(6))
          val m7 = rnd.nextInt(7)
          val withBySource = rnd.nextBoolean()
          TxLog.mergeInto(spark, root, toDf(batch, cur.valueCol), "id",
            matched = Seq(
              TxLog.MergeClause(Some(col("id") % 2 === 0),
                TxLog.MergeUpdate()),
              TxLog.MergeClause(Some(col("id") =!= 1L), TxLog.MergeDelete)),
            notMatched = Seq(
              TxLog.MergeClause(Some(col("src.id") % 3 === 0),
                TxLog.MergeInsert)),
            notMatchedBySource =
              if (!withBySource) Seq.empty
              else Seq(TxLog.MergeClause(
                Some(col("id") % 7 === m7 && col("id") =!= 1L),
                TxLog.MergeDelete)))
          val merged = cur.data.flatMap { case (k, v) =>
            if (batch.contains(k)) {
              if (k % 2 == 0) Some(k -> batch(k))
              else if (k != 1L) None
              else Some(k -> v)
            } else if (withBySource && k % 7 == m7 && k != 1L) None
            else Some(k -> v)
          } ++ batch.filter { case (k, _) =>
            !cur.data.contains(k) && k % 3 == 0 }
          model.commit(MState(merged, cur.valueCol))
        case 10 => // incremental z-order fold: content-preserving layout
          // maintenance; commits a version only when an unsorted tail
          // exists — composed with renames (physical rewrite under
          // mapping), MoR deletes (folding purges the tail's DVs),
          // restores (generations time travel), everything above
          val before = TxLog.currentVersion(root)
          val after = TxLog.clusterIncremental(spark, root, Seq("id"),
            targetFiles = 2)
          if (after != before) model.commit(cur)
      }
      assert(TxLog.currentVersion(root) === model.version,
        s"seed=$seed op#$i kind=$opKind: version diverged")
      assert(tableState(root) === model.current,
        s"seed=$seed op#$i kind=$opKind: content diverged from model")
    }

    // time travel: EVERY retained version still equals its model state
    (1L to model.version).foreach { v =>
      assert(tableState(root, v) === model.history((v - 1).toInt),
        s"seed=$seed: version $v diverged under time travel")
    }

    // CDC consistency: for every version step the change feed either
    // refuses (rewrite-shaped commit) or transforms the parent state
    // into the child state EXACTLY — parent minus the delete rows plus
    // the insert rows, as key→value multisets. This is the row-level
    // attribution contract checked against the reference model across
    // arbitrary op interleavings, not a hand-picked scenario.
    (2L to model.version).foreach { v =>
      val feedOrRefusal = scala.util.Try(
        TxLog.readChanges(spark, root, v - 1, v).collect())
      feedOrRefusal.foreach { rows =>
        val parent = model.history((v - 2).toInt).data
        val child = model.history((v - 1).toInt).data
        // the feed speaks each version's OWN schema: across a rename the
        // range's frames align by name and the value rides under whichever
        // logical name its version used (the other column is NULL) — an
        // attribution-marked restore across a rename exercises this. The
        // model's values are never null, so "the non-null value column"
        // is exact.
        val meta = Set("id", "_change_type", "_commit_version")
        def valueOf(r: org.apache.spark.sql.Row): String =
          r.schema.fieldNames.filterNot(meta).iterator
            .map(n => r.getAs[String](n)).find(_ != null).orNull
        val dels = rows.filter(_.getAs[String]("_change_type") == "delete")
          .map(r => r.getAs[Long]("id") -> valueOf(r))
        val ins = rows.filter(_.getAs[String]("_change_type") == "insert")
          .map(r => r.getAs[Long]("id") -> valueOf(r))
        dels.foreach { case (k, value) =>
          assert(parent.get(k).contains(value),
            s"seed=$seed v=$v: feed deleted ($k,$value) not in parent " +
              s"(ops: ${opLog.mkString(", ")})")
        }
        val applied = (parent -- dels.map(_._1)) ++ ins
        assert(applied === child,
          s"seed=$seed v=$v: feed-applied parent != child state")
        assert(rows.forall(_.getAs[Long]("_commit_version") == v))
      }
    }

    // maintenance epilogue: prune + ungraced vacuum, latest still intact
    TxLog.pruneHistory(root, keepLast = 2)
    TxLog.vacuum(root, graceMs = 0L)
    assert(tableState(root) === model.current,
      s"seed=$seed: content diverged after prune+vacuum")
    assert(tableState(root, model.version - 1) ===
      model.history(model.version.toInt - 2),
      s"seed=$seed: retained previous version diverged after prune+vacuum")
  }

  test("seeded op sequences: table == model after every op, every version, and maintenance") {
    runSequence(seed = 41L, ops = 14)
    runSequence(seed = 1337L, ops = 14)
  }

  // ------------------------------------------------------- two-column

  /** Partition derivation: keys functionally determine their (lang, day)
    * tuple — the upsertPartitioned contract (keys must not migrate). */
  private def langOf(k: Long): String = s"l${k % 3}"
  private def dayOf(k: Long): Int = ((k / 3) % 2).toInt

  private def toPartDf(m: Map[Long, String], valueCol: String) = {
    val df = m.toSeq.toDF("id", valueCol)
    df.withColumn("lang", concat(lit("l"), (col("id") % 3).cast("string")))
      .withColumn("day", ((col("id") / 3) % 2).cast("int"))
  }

  private def partTableState(root: String, v: Long = -1L): Map[Long, String] = {
    val df = TxLog.read(spark, root, v)
    // partition-column integrity rides in every read-back: each row's
    // (lang, day) must equal the key derivation, whatever op landed it
    df.collect().map { r =>
      val k = r.getAs[Long]("id")
      assert(r.getAs[String]("lang") === langOf(k),
        s"row $k carries wrong lang partition value")
      assert(r.getAs[Int]("day") === dayOf(k),
        s"row $k carries wrong day partition value")
      k -> r.getAs[String]("v")
    }.toMap
  }

  test("seeded op sequences on a (lang, day) two-column table") {
    val rnd = new scala.util.Random(4242L)
    val root = freshRoot("txlog-model-twocol")
    def kv(n: Int): Map[Long, String] =
      (0 until n).map(_ => rnd.nextInt(40).toLong -> s"v${rnd.nextInt(1000)}").toMap
    var history = Vector.empty[Map[Long, String]]
    def commit(m: Map[Long, String]): Unit = history = history :+ m

    val init = kv(10) + (1L -> "seed")
    TxLog.initPartitioned(spark, root, toPartDf(init, "v"), Seq("lang", "day"), "")
    commit(init)

    (1 to 12).foreach { i =>
      val cur = history.last
      rnd.nextInt(8) match {
        case 0 => // tuple-scoped merge
          val batch = kv(1 + rnd.nextInt(6))
          TxLog.upsertPartitioned(spark, root, toPartDf(batch, "v"), "id",
            Seq("lang", "day"), "")
          commit(cur ++ batch)
        case 1 => // predicate delete (partitioned overwrite restage)
          val m = 2 + rnd.nextInt(5)
          TxLog.delete(spark, root, col("id") % m === 0 && col("id") =!= 1L)
          commit(cur.filter { case (k, _) => k % m != 0 || k == 1L })
        case 2 => // per-partition compact (commits only when fragmented)
          val before = TxLog.currentVersion(root)
          if (TxLog.compact(spark, root, 1) != before) commit(cur)
        case 3 => // metadata-only restore to a random retained version
          val target = 1L + rnd.nextInt(history.size).toLong
          TxLog.restore(spark, root, target)
          commit(history((target - 1).toInt))
        case 4 => // full overwrite (replaces every tuple's files)
          val fresh = kv(4 + rnd.nextInt(5)) + (1L -> "seed")
          TxLog.commitOverwrite(spark, root, toPartDf(fresh, "v"),
            expected = TxLog.currentVersion(root))
          commit(fresh)
        case 5 => // merge-on-read delete on the two-column layout —
          // vectors on hive-staged files, partition values re-derived
          // and checked row-by-row on every read-back
          val m = 2 + rnd.nextInt(5)
          TxLog.deleteMoR(spark, root, col("id") % m === 0 && col("id") =!= 1L)
          commit(cur.filter { case (k, _) => k % m != 0 || k == 1L })
        case 6 => // conditional MERGE on the hive layout: update matched
          // evens, delete matched odds (key 1 protected), insert new keys
          // ≡ 0 (mod 3) — the partial path's stagePartitioned restage and
          // the whole path's overwrite both land here depending on stats
          val batch = kv(1 + rnd.nextInt(6))
          TxLog.mergeInto(spark, root, toPartDf(batch, "v"), "id",
            matched = Seq(
              TxLog.MergeClause(Some(col("id") % 2 === 0),
                TxLog.MergeUpdate()),
              TxLog.MergeClause(Some(col("id") =!= 1L), TxLog.MergeDelete)),
            notMatched = Seq(TxLog.MergeClause(
              Some(col("src.id") % 3 === 0), TxLog.MergeInsert)))
          commit(cur.flatMap { case (k, v) =>
            if (batch.contains(k)) {
              if (k % 2 == 0) Some(k -> batch(k))
              else if (k != 1L) None
              else Some(k -> v)
            } else Some(k -> v)
          } ++ batch.filter { case (k, _) =>
            !cur.contains(k) && k % 3 == 0 })
        case 7 => // incremental z-fold WITHIN partitions: hive layout,
          // partition tags re-derived and checked on every read-back
          val before = TxLog.currentVersion(root)
          if (TxLog.clusterIncremental(spark, root, Seq("id"),
              targetFiles = 2) != before)
            commit(cur)
      }
      assert(TxLog.currentVersion(root) === history.size.toLong,
        s"op#$i: version diverged")
      assert(partTableState(root) === history.last, s"op#$i: content diverged")
    }
    // time travel over every retained version, partition values included
    (1L to history.size.toLong).foreach { v =>
      assert(partTableState(root, v) === history((v - 1).toInt),
        s"version $v diverged under time travel")
    }
    TxLog.pruneHistory(root, keepLast = 2)
    TxLog.vacuum(root, graceMs = 0L)
    assert(partTableState(root) === history.last)
  }

  // -------------------------------------- mapping × streaming-sink ops

  /** The documented contract for column mapping interleaved with a
    * streaming sink ([[TxLog.streamingSink]] commits each micro-batch
    * via appendOnceMonotone, so the per-batch semantics ARE the sink
    * semantics):
    *  - after RENAME, a batch still speaking the old logical schema is
    *    REFUSED loudly by the additive gate (a stream's source schema is
    *    fixed at start — the operator restarts it against the new
    *    logical schema; silently minting a fresh column would fork the
    *    data), and the refusal publishes nothing;
    *  - a batch speaking the new logical name lands in the SAME physical
    *    column (no column forked);
    *  - readAppended across the rename boundary projects everything
    *    under the NEW logical names;
    *  - after DROP, a batch still carrying the dropped column RE-ADDS it
    *    under a fresh physical name: pre-drop rows surface NULL — the
    *    resurrection guard — and the stream keeps flowing. */
  test("column mapping interleaved with streaming-sink appends: refuse stale, never fork, never resurrect") {
    val root = freshRoot("txlog-model-mapstream")
    assert(TxLog.appendOnceMonotone(spark, root, "batch", 0L,
      toDf(Map(1L -> "a"), "s")))
    val v1 = TxLog.currentVersion(root)
    TxLog.renameColumn(spark, root, "s", "t")
    val vRename = TxLog.currentVersion(root)

    // stale-schema batch refused, nothing published
    val ex = intercept[IllegalArgumentException] {
      TxLog.appendOnceMonotone(spark, root, "batch", 1L, toDf(Map(2L -> "b"), "s"))
    }
    assert(ex.getMessage.contains("not additive"))
    assert(TxLog.currentVersion(root) === vRename)

    // new-schema batch lands in the SAME physical column (no fork): the
    // committed physical schema stays 2 columns wide
    assert(TxLog.appendOnceMonotone(spark, root, "batch", 1L,
      toDf(Map(2L -> "b"), "t")))
    assert(tableState(root) === MState(Map(1L -> "a", 2L -> "b"), "t"))
    assert(TxLog.read(spark, root).columns.length === 2)

    // incremental read across the rename boundary: new logical names
    val app = TxLog.readAppended(spark, root, v1)
    assert(app.columns.toSeq === Seq("id", "t"))
    assert(app.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(2L -> "b"))

    // drop, then a stream batch still carrying the column: re-added
    // fresh, old rows NULL (no resurrection), stream keeps flowing
    TxLog.dropColumn(spark, root, "t")
    assert(TxLog.appendOnceMonotone(spark, root, "batch", 2L,
      toDf(Map(3L -> "c"), "t")))
    val vals = TxLog.read(spark, root).collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("t"))).toMap
    assert(vals === Map(1L -> None, 2L -> None, 3L -> Some("c")))
  }

  // -------------------------------------------------- MoR concurrency

  /** CONCURRENT merge-on-read era: two writers race deleteMoR /
    * updateMoR / append / compact against ONE table through the manifest
    * CAS. Each writer owns a DISJOINT key space, so every serialization
    * of the commits produces the SAME final set — which is exactly what
    * makes the outcome checkable without knowing the interleaving. The
    * races this pins: two MoR commits hitting the SAME files (the keys
    * interleave across files) force the CAS loser to re-derive its
    * sidecar from the winner's fresh snapshot — a retry that dropped or
    * double-carried prior positions would lose deletes, resurrect rows,
    * or desync the liveRows census; a compact racing a delete purges
    * vectors mid-stream and the retried delete must re-prune against the
    * restaged files. */
  test("concurrent deleteMoR/updateMoR/append/compact CAS races: " +
      "serializable outcome, no DV position lost") {
    val root = freshRoot("txlog-model-morconc")
    TxLog.init(spark, root,
      (0L until 400L).map(k => (k, s"v$k")).toDF("id", "s").repartition(4))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // writer A: keys [0, 200) — three MoR deletes and one MoR update
    val a = Future {
      (1 to 3).foreach { i =>
        TxLog.deleteMoR(spark, root,
          col("id") >= i * 20L && col("id") < i * 20L + 5L)
      }
      TxLog.updateMoR(spark, root,
        col("id") >= 100L && col("id") < 110L,
        Seq("s" -> concat(lit("A"), col("s"))))
    }
    // writer B: keys [200, 400) — deletes + an update + fresh appends,
    // with a compact in the middle (purges vectors, content-preserving)
    val b = Future {
      (1 to 3).foreach { i =>
        TxLog.deleteMoR(spark, root,
          col("id") >= 200L + i * 20L && col("id") < 200L + i * 20L + 5L)
        if (i == 2) TxLog.compact(spark, root, targetFiles = 2)
      }
      TxLog.updateMoR(spark, root,
        col("id") >= 300L && col("id") < 310L,
        Seq("s" -> concat(lit("B"), col("s"))))
      TxLog.appendOnce(spark, root, "fresh",
        (1000L until 1010L).map(k => (k, s"v$k")).toDF("id", "s"))
    }
    Await.result(a, 5.minutes)
    Await.result(b, 5.minutes)
    // expected set under ANY serialization (disjoint key spaces commute)
    val deletedA = (1 to 3).flatMap(i => (i * 20L) until (i * 20L + 5L)).toSet
    val deletedB = (1 to 3).flatMap(i => (200L + i * 20L) until (200L + i * 20L + 5L)).toSet
    val expected = ((0L until 400L).filterNot(k =>
      deletedA(k) || deletedB(k)).map { k =>
      val v = s"v$k"
      k -> (if (k >= 100L && k < 110L) s"A$v"
            else if (k >= 300L && k < 310L) s"B$v" else v)
    } ++ (1000L until 1010L).map(k => k -> s"v$k")).toMap
    assert(tableState(root).data === expected,
      "concurrent MoR commits must serialize to the disjoint-union state")
    // the liveRows census agrees with the data — an inflated or lost DV
    // position count would break this even when the read looks right
    val snap = TxLog.snapshot(root).get
    if (snap.entries.forall(_.stats.isDefined))
      assert(snap.entries.flatMap(_.liveRows).sum === expected.size.toLong)
    // every retained version is a consistent snapshot: version k's count
    // is readable and the feed across the whole range nets to the final
    // state (attribution held through every racy commit)
    val feed = TxLog.readChanges(spark, root, 1L)
    val byKey = feed.collect().groupBy(_.getLong(0))
    val net = (0L until 400L).map(k => k -> s"v$k").toMap ++ byKey.flatMap {
      case (k, evs) =>
        val last = evs.maxBy(r => (r.getAs[Long]("_commit_version"),
          if (r.getAs[String]("_change_type") == "insert") 1 else 0))
        if (last.getAs[String]("_change_type") == "insert")
          Some(k -> last.getString(1))
        else None
    } -- byKey.collect { case (k, evs)
        if evs.maxBy(r => (r.getAs[Long]("_commit_version"),
          if (r.getAs[String]("_change_type") == "insert") 1 else 0))
          .getAs[String]("_change_type") == "delete" => k }
    assert(net === expected,
      "replaying the change feed over the base must reproduce the table")
  }

  /** Liveness pin for the retry loop itself: a writer that loses MANY
    * consecutive CAS races — more than the pre-backoff 5-attempt cap
    * ever allowed — still commits, because the budget is deep and each
    * loss backs off instead of spinning. And the budget is a hard wall:
    * exactly maxAttempts attempts run before the CME escapes. */
  test("withRetry outlasts a long CAS-loss streak and walls at the budget") {
    val root = freshRoot("txlog-model-retrylive")
    TxLog.init(spark, root, Seq((1L, "a")).toDF("id", "s"))
    // 8 straight losses (old cap was 5) then success — must commit
    var calls = 0
    val got = TxLog.withRetry[Int](root) { snapOpt =>
      calls += 1
      if (calls <= 8)
        throw new java.util.ConcurrentModificationException(
          s"synthetic CAS loss #$calls")
      assert(snapOpt.isDefined)
      Some(42)
    }
    assert(got === Some(42) && calls === 9,
      "a writer outlasting maxAttempts-1 losses must still commit")
    // the default budget is deep — a regression back to single-digit
    // attempts re-introduces the contention flake
    assert(TxLog.DefaultCommitAttempts >= 20)
    // exhaustion: the budget is exact, and the CME escapes past it
    var calls2 = 0
    val cme = intercept[java.util.ConcurrentModificationException] {
      TxLog.withRetry[Int](root, maxAttempts = 3) { _ =>
        calls2 += 1
        throw new java.util.ConcurrentModificationException("always lose")
      }
    }
    assert(calls2 === 3 && cme.getMessage.contains("always lose"))
  }

  // ------------------------------------------- CAS-loss commit rebase

  /** Two key-clustered files so the partial merge prunes: ids [0,100)
    * in one, [1000,1100) in the other; change_feed ON so the merge
    * writes exact change files — the rebase must RE-PIN the version
    * marker without rewriting the dir. Returns the root (v3 current). */
  private def clusteredTable(tag: String): String = {
    val root = freshRoot(s"txlog-model-$tag")
    val lo = (0L until 100L).map(k => (k, s"v$k")).toDF("id", "s").coalesce(1)
    val hi = (1000L until 1100L).map(k => (k, s"v$k")).toDF("id", "s").coalesce(1)
    TxLog.init(spark, root, lo)
    TxLog.appendOnce(spark, root, "hi", hi)
    TxLog.setProperties(root, Map("change_feed" -> "true"))
    root
  }

  /** The merge under race: updates ids 1000..1009 (upper file only). */
  private def mergeUpper(root: String): Long =
    TxLog.mergeInto(spark, root,
      (1000L until 1010L).map(k => (k, s"M$k")).toDF("id", "s"),
      "id",
      matched = Seq(TxLog.MergeClause(None,
        TxLog.MergeUpdate(Seq("s" -> col("src.s"))))),
      notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)))

  test("CAS loss to a DISJOINT append: the merge REBASES — no job re-run, " +
      "serializable outcome") {
    val root = clusteredTable("rebase-disjoint")
    // interleave an append OUTSIDE the merge's key range between the
    // merge's staging and its publish — the loser must rebase: republish
    // its already-staged files onto the winner's snapshot WITHOUT
    // re-running the rewrite job (staging count is the job proxy: a
    // recompute re-stages, a rebase does not)
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "interleaved",
        (5000L until 5010L).map(k => (k, s"A$k")).toDF("id", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      val v = mergeUpper(root)
      val stages = TxLog.dataStages.get.longValue
      // exactly TWO stagings on this thread: the merge's own output and
      // the hook's append (which staged inside the hook) — a recomputing
      // loser would stage a third
      assert(stages === 2L,
        s"expected 2 data stagings (merge + interleaved append), got $stages")
      // the merge committed AFTER the interleaved append
      assert(v === 5L, s"merge should publish v5 after the winner's v4, got $v")
    } finally TxLog.testRacePublishHook = None
    // serializable outcome: both the winner's rows and the merge's
    // updates are present, nothing lost
    val got = tableState(root).data
    val expected = ((0L until 100L) ++ (1000L until 1100L)).map(k =>
      k -> (if (k >= 1000L && k < 1010L) s"M$k" else s"v$k")).toMap ++
      (5000L until 5010L).map(k => k -> s"A$k").toMap
    assert(got === expected)
    // attribution survived the rebase: the marker re-pinned to the real
    // commit version, so the exact change files surface — only the 10
    // updated rows, never the rewrite churn
    val feed = TxLog.readChanges(spark, root, 4L, 5L)
      .filter(col("_change_type") === "insert").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feed === (1000L until 1010L).map(k => k -> s"M$k").toMap)
  }

  test("CAS loss to an OVERLAPPING commit: genuine conflict — the merge " +
      "recomputes against the fresh snapshot, result still serializable") {
    val root = clusteredTable("rebase-overlap")
    // the interleaved append lands INSIDE the merge's key range: its
    // rows must be visible to the merge's NOT-MATCHED resolution, so a
    // rebase would be WRONG — the loser must re-run the job
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "interleaved",
        Seq((1005L, "X1005"), (2000L, "X2000")).toDF("id", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      val v = mergeUpper(root)
      val stages = TxLog.dataStages.get.longValue
      // merge staged TWICE (first attempt + recompute) plus the hook's
      // append: the conflict was detected and the job re-ran
      assert(stages === 3L,
        s"expected 3 data stagings (merge, append, merge recompute), got $stages")
      assert(v === 5L)
    } finally TxLog.testRacePublishHook = None
    // serial order is append-then-merge: the appended 1005 duplicate row
    // is MATCHED by the merge (both 1005 rows update — the merge's
    // full-outer join hits every matching target row), 2000 untouched
    val got = TxLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val base = ((0L until 100L) ++ (1000L until 1100L)).map(k =>
      (k, if (k >= 1000L && k < 1010L) s"M$k" else s"v$k"))
    val expected = (base ++ Seq((1005L, "M1005"), (2000L, "X2000"))).sorted
    assert(got === expected)
  }

  test("CAS loss on pruned COW DELETE / UPDATE: a disjoint append " +
      "rebases (no re-stage), an overlapping one recomputes — both " +
      "serializable, change attribution re-pins") {
    val root = clusteredTable("rebase-dml") // v3, change_feed on
    // DELETE raced by a DISJOINT append: rebase — one staging for the
    // delete's survivors plus the interloper's own
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "interleaved",
        (6000L until 6010L).map(k => (k, s"A$k")).toDF("id", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      val v = TxLog.delete(spark, root,
        col("id") >= 1050L && col("id") < 1060L)
      assert(TxLog.dataStages.get.longValue === 2L,
        "disjoint-raced DELETE must rebase, not re-stage")
      assert(v === 5L)
    } finally TxLog.testRacePublishHook = None
    // the delete's exact change files survived the rebase re-pin
    val delFeed = TxLog.readChanges(spark, root, 4L, 5L)
    assert(delFeed.filter(col("_change_type") === "delete").count() === 10L)
    assert(delFeed.filter(col("_change_type") === "insert").count() === 0L)
    // UPDATE raced by an OVERLAPPING append (a row inside the update's
    // key range): genuine conflict — recompute, and the serial order
    // append-then-update means the interloper row updates too
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "interleaved2",
        Seq((1005L, "X1005")).toDF("id", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      val v = TxLog.updateWhere(spark, root,
        col("id") >= 1000L && col("id") < 1010L,
        Seq("s" -> concat(lit("U"), col("s"))))
      assert(TxLog.dataStages.get.longValue === 3L,
        "overlap-raced UPDATE must detect the conflict and recompute")
      assert(v === 7L)
    } finally TxLog.testRacePublishHook = None
    val got = TxLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val expected = ((0L until 100L).map(k => (k, s"v$k")) ++
      (1000L until 1100L).filterNot(k => k >= 1050L && k < 1060L).map(k =>
        (k, if (k >= 1000L && k < 1010L) s"Uv$k" else s"v$k")) ++
      Seq((1005L, "UX1005")) ++
      (6000L until 6010L).map(k => (k, s"A$k"))).sorted
    assert(got === expected)
  }

  test("CAS loss on a partition-scoped upsert: an interleaved commit to " +
      "ANOTHER partition rebases; the SAME partition recomputes") {
    val root = freshRoot("txlog-model-rebase-part")
    TxLog.initPartitioned(spark, root,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (10L, "c", "p2"), (11L, "d", "p2"))
        .toDF("id", "s", "part"), Seq("part"), "")
    // DISJOINT: upsert into p1 raced by an append into p2 — the write
    // scope is exact partition membership, so the loser rebases
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "il",
        Seq((12L, "e", "p2")).toDF("id", "s", "part"))
    }
    try {
      TxLog.dataStages.set(0L)
      TxLog.upsertPartitioned(spark, root,
        Seq((1L, "A", "p1"), (3L, "f", "p1")).toDF("id", "s", "part"),
        "id", "part")
      assert(TxLog.dataStages.get.longValue === 2L,
        "other-partition race must rebase the partition-scoped upsert")
    } finally TxLog.testRacePublishHook = None
    def state(): Map[Long, (String, String)] =
      TxLog.read(spark, root).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(state() === Map(1L -> ("A", "p1"), 2L -> ("b", "p1"),
      3L -> ("f", "p1"), 10L -> ("c", "p2"), 11L -> ("d", "p2"),
      12L -> ("e", "p2")))
    // OVERLAP: upsert into p2 raced by an append into p2 — conflict,
    // recompute; the serial order append-then-upsert keeps the
    // interloper row through the anti-join
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "il2",
        Seq((13L, "g", "p2")).toDF("id", "s", "part"))
    }
    try {
      TxLog.dataStages.set(0L)
      TxLog.upsertPartitioned(spark, root,
        Seq((10L, "C", "p2")).toDF("id", "s", "part"), "id", "part")
      assert(TxLog.dataStages.get.longValue === 3L,
        "same-partition race must recompute the partition-scoped upsert")
    } finally TxLog.testRacePublishHook = None
    assert(state() === Map(1L -> ("A", "p1"), 2L -> ("b", "p1"),
      3L -> ("f", "p1"), 10L -> ("C", "p2"), 11L -> ("d", "p2"),
      12L -> ("e", "p2"), 13L -> ("g", "p2")))
  }

  test("concurrent mergeInto/upsertPartitioned/delete writers on disjoint " +
      "partitions: serializable outcome through REAL races (rebase or " +
      "recompute, never corruption)") {
    val root = freshRoot("txlog-model-rebase-conc")
    TxLog.initPartitioned(spark, root,
      ((0L until 100L).map(k => (k, s"v$k", "p1")) ++
        (1000L until 1100L).map(k => (k, s"v$k", "p2")))
        .toDF("id", "s", "part"), Seq("part"), "")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // writer A owns p1: scoped merge, pruned delete, scoped merge — every
    // candidate set is provably p1-only, so every CAS loss to writer B is
    // a REBASE opportunity (and a conflict-check correctness trial)
    val a = Future {
      TxLog.mergeInto(spark, root,
        (0L until 10L).map(k => (k, s"A$k", "p1")).toDF("id", "s", "part"),
        "id",
        matched = Seq(TxLog.MergeClause(None,
          TxLog.MergeUpdate(Seq("s" -> col("src.s"))))),
        targetScope = Some(col("part") === "p1"))
      TxLog.delete(spark, root, col("part") === "p1" && col("id") % 10 === 5)
      TxLog.mergeInto(spark, root,
        (200L until 205L).map(k => (k, s"N$k", "p1")).toDF("id", "s", "part"),
        "id",
        notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)),
        targetScope = Some(col("part") === "p1"))
    }
    // writer B owns p2: partition-scoped upserts + a pruned delete
    val b = Future {
      TxLog.upsertPartitioned(spark, root,
        (1000L until 1010L).map(k => (k, s"B$k", "p2")).toDF("id", "s", "part"),
        "id", "part")
      TxLog.delete(spark, root, col("part") === "p2" && col("id") >= 1090L)
      TxLog.upsertPartitioned(spark, root,
        (1100L until 1105L).map(k => (k, s"C$k", "p2")).toDF("id", "s", "part"),
        "id", "part")
    }
    // writer C: plain appends minting a third partition — every CAS loss
    // is a stage-once republish trial (appends have no read premise)
    val c = Future {
      TxLog.appendOnce(spark, root, "app1",
        (2000L until 2005L).map(k => (k, s"E$k", "p3")).toDF("id", "s", "part"))
      TxLog.appendOnce(spark, root, "app2",
        (2005L until 2010L).map(k => (k, s"E$k", "p3")).toDF("id", "s", "part"))
    }
    Await.result(a, 5.minutes)
    Await.result(b, 5.minutes)
    Await.result(c, 5.minutes)
    // disjoint key/partition spaces commute: ONE expected final state
    // under every serialization, every interleaving, rebase or recompute
    val got = TxLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    val expected = (
      (0L until 100L).filterNot(k => k % 10 == 5).map(k =>
        (k, if (k < 10) s"A$k" else s"v$k", "p1")) ++
      (200L until 205L).map(k => (k, s"N$k", "p1")) ++
      (1000L until 1090L).map(k =>
        (k, if (k < 1010L) s"B$k" else s"v$k", "p2")) ++
      (1100L until 1105L).map(k => (k, s"C$k", "p2")) ++
      (2000L until 2010L).map(k => (k, s"E$k", "p3"))).sorted
    assert(got === expected,
      "concurrent scoped writers must serialize to the disjoint-union state")
    // eight commits landed (each exactly once) on top of init
    assert(TxLog.currentVersion(root) === 9L)
  }

  test("CAS loss on compact: ANY disjoint interleaved commit rebases — " +
      "the maintenance rewrite runs once, mapping and cdc_noop survive") {
    val root = freshRoot("txlog-model-rebase-compact")
    TxLog.init(spark, root,
      (0L until 100L).map(k => (k, s"v$k")).toDF("id", "s").repartition(8))
    // column mapping in play: the physical-level compact must CARRY it
    // (the old overwrite-path compact materialized logical names)
    TxLog.renameColumn(spark, root, "s", "body")
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "il",
        Seq((500L, "x")).toDF("id", "body"))
    }
    try {
      TxLog.dataStages.set(0L)
      val v = TxLog.compact(spark, root, targetFiles = 2)
      assert(TxLog.dataStages.get.longValue === 2L,
        "append-raced compact must rebase (the rewrite runs once)")
      assert(v === 4L) // init 1, rename 2, interloper append 3, compact 4
    } finally TxLog.testRacePublishHook = None
    val snap = TxLog.snapshot(root).get
    assert(snap.mapping.nonEmpty, "compact must carry the column mapping")
    // the interloper's file simply stays unpacked next to the bins
    val got = TxLog.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "body"))
    assert(got.count() === 101L)
    assert(got.filter(col("id") === 500L).head().getString(1) === "x")
    assert(got.filter(col("id") < 100L).count() === 100L)
    // maintenance stays invisible to the feed: the cdc_noop marker
    // re-pinned to the actual commit version through the rebase
    assert(TxLog.readChanges(spark, root, 3L, 4L).count() === 0L)
  }

  test("CAS loss on z-order cluster: a disjoint append rebases on a " +
      "modern layout; a mapped table recomputes (carried physical names " +
      "would misread)") {
    val root = freshRoot("txlog-model-rebase-cluster")
    TxLog.init(spark, root,
      (0L until 1000L).map(k => (k, k % 7, s"v$k")).toDF("id", "m", "s")
        .repartition(8))
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "il",
        Seq((5000L, 9L, "x")).toDF("id", "m", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      val v = TxLog.cluster(spark, root, Seq("id", "m"), targetFiles = 4)
      assert(TxLog.dataStages.get.longValue === 2L,
        "append-raced cluster on a modern unmapped layout must rebase")
      assert(v === 3L) // init 1, interloper append 2, cluster 3
    } finally TxLog.testRacePublishHook = None
    val got = TxLog.read(spark, root)
    assert(got.count() === 1001L)
    assert(got.filter(col("id") === 5000L).count() === 1L)
    // layout rewrite invisible to the feed through the rebase re-pin
    assert(TxLog.readChanges(spark, root, 2L, 3L).count() === 0L)
    // MAPPED table: the cluster overwrite materializes logical names, so
    // a carried physical-named interloper would misread — must recompute
    val root2 = freshRoot("txlog-model-rebase-cluster-map")
    TxLog.init(spark, root2,
      (0L until 200L).map(k => (k, s"v$k")).toDF("id", "s").repartition(4))
    TxLog.renameColumn(spark, root2, "s", "body")
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "il2",
        Seq((900L, "y")).toDF("id", "body"))
    }
    try {
      TxLog.dataStages.set(0L)
      TxLog.cluster(spark, root2, Seq("id"), targetFiles = 2)
      assert(TxLog.dataStages.get.longValue === 3L,
        "append-raced cluster on a MAPPED table must recompute")
    } finally TxLog.testRacePublishHook = None
    val got2 = TxLog.read(spark, root2)
    assert(got2.columns.toSeq === Seq("id", "body"))
    assert(got2.count() === 201L)
    assert(got2.filter(col("id") === 900L).head().getString(1) === "y")
  }

  test("CAS loss to an interleaved ADD CONSTRAINT: the rebase premise " +
      "breaks (staged rows were never validated against it) — recompute, " +
      "and the new constraint gates the merge output") {
    val root = clusteredTable("rebase-chk")
    // the interloper adds a CHECK the merge's staged output VIOLATES:
    // a rebase would publish unvalidated rows past the constraint, so
    // the conflict check must refuse and the recompute must hit the
    // constraint gate loudly
    TxLog.testRacePublishHook = Some { r =>
      TxLog.addConstraint(spark, r, "no_m_prefix", "s NOT LIKE 'M%'")
    }
    try {
      val ex = intercept[IllegalArgumentException] {
        mergeUpper(root) // stages s = "M<k>" rows — violates the new CHECK
      }
      assert(ex.getMessage.contains("no_m_prefix"),
        s"expected the CHECK gate to fire on recompute, got: ${ex.getMessage}")
    } finally TxLog.testRacePublishHook = None
    // nothing committed: the table is the interloper's version exactly
    val got = tableState(root).data
    val expected = ((0L until 100L) ++ (1000L until 1100L))
      .map(k => k -> s"v$k").toMap
    assert(got === expected, "the refused merge must leave no trace")
  }

  test("CAS loss to a metadata-only commit under a whole-table merge: " +
      "BY-SOURCE path recomputes (no rebase premise), outcome serializable") {
    val root = clusteredTable("rebase-meta")
    // a BY-SOURCE merge reads the whole table (readConjuncts = empty ⇒
    // carried empty ⇒ full COW path, plain withRetry recompute) — this
    // pins that the classic path still serializes under the same hook
    TxLog.testRacePublishHook = Some { r =>
      TxLog.setProperties(r, Map("owner" -> "race"))
    }
    // the hook fires on the REBASABLE publish path only — a full-path
    // merge must never reach it (reaching it would mean the whole-table
    // read took the rebase shortcut, which has no valid premise there)
    try {
      val v = TxLog.mergeInto(spark, root,
        (1000L until 1005L).map(k => (k, s"R$k")).toDF("id", "s"),
        "id",
        matched = Seq(TxLog.MergeClause(None,
          TxLog.MergeUpdate(Seq("s" -> col("src.s"))))),
        notMatchedBySource = Seq(TxLog.MergeClause(
          Some(col("id") >= 5000L), TxLog.MergeDelete)))
      assert(v === 4L)
      assert(TxLog.testRacePublishHook.isDefined,
        "whole-table merge must take the recompute path, not publishRmw")
    } finally TxLog.testRacePublishHook = None
    val got = tableState(root).data
    val expected = ((0L until 100L) ++ (1000L until 1100L)).map(k =>
      k -> (if (k >= 1000L && k < 1005L) s"R$k" else s"v$k")).toMap
    assert(got === expected)
  }

  test("CAS loss on clusterIncremental: ANY interleaved commit leaving " +
      "the tail untouched rebases; the interloper's file is simply the " +
      "NEXT run's tail") {
    val root = freshRoot("txlog-model-rebase-cluster-inc")
    TxLog.init(spark, root,
      (0L until 1000L).map(k => (k, k % 7, s"v$k")).toDF("id", "m", "s")
        .repartition(4))
    TxLog.cluster(spark, root, Seq("id", "m"), targetFiles = 4)
    TxLog.appendOnce(spark, root, "tail",
      (5000L until 5100L).map(k => (k, k % 7, s"t$k")).toDF("id", "m", "s"))
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "il",
        Seq((9000L, 1L, "x")).toDF("id", "m", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      val v = TxLog.clusterIncremental(spark, root, Seq("id", "m"),
        targetFiles = 2)
      assert(TxLog.dataStages.get.longValue === 2L,
        "append-raced incremental cluster must rebase (the fold runs once)")
      assert(v === 5L) // init 1, cluster 2, tail 3, interloper 4, fold 5
    } finally TxLog.testRacePublishHook = None
    val got = TxLog.read(spark, root)
    assert(got.count() === 1101L)
    // the raced interloper's file stayed unsorted — exactly the next
    // incremental run's victim set (and nothing else)
    val snap = TxLog.snapshot(root).get
    val tail = snap.entries.filterNot(_.path.startsWith("data/c-z"))
    assert(tail.size === 1, s"expected 1 unsorted interloper file, got $tail")
    val v2 = TxLog.clusterIncremental(spark, root, Seq("id", "m"))
    assert(v2 === 6L)
    assert(TxLog.snapshot(root).get.entries
      .forall(_.path.startsWith("data/c-z")))
    assert(TxLog.read(spark, root).count() === 1101L)
    assert(TxLog.readChanges(spark, root, 4L, 5L).count() === 0L,
      "the rebased fold must stay invisible to the change feed")
  }

  test("append CAS loser reuses its staged batch: stage-once retry, " +
      "manifest work only") {
    val root = freshRoot("txlog-model-append-rebase")
    TxLog.init(spark, root,
      (0L until 50L).map(k => (k, s"v$k")).toDF("id", "s"))
    // interleave a winning append between the loser's staging and its
    // publish: the loser's layout vintage still matches, so the retry
    // must republish the ALREADY-written files — a restage would mean
    // the most common writer re-runs its batch job on every CAS loss
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "il",
        Seq((500L, "x")).toDF("id", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      assert(TxLog.appendOnce(spark, root, "batch-a",
        (100L until 110L).map(k => (k, s"a$k")).toDF("id", "s")))
      val stages = TxLog.dataStages.get.longValue
      // exactly TWO stagings: the loser's single stage and the hook's
      // interleaved append — a recomputing loser would stage a third
      assert(stages === 2L,
        s"expected 2 data stagings (append + interloper), got $stages")
      assert(TxLog.currentVersion(root) === 3L)
    } finally TxLog.testRacePublishHook = None
    val got = tableState(root).data
    val expected = (0L until 50L).map(k => k -> s"v$k").toMap ++
      (100L until 110L).map(k => k -> s"a$k").toMap + (500L -> "x")
    assert(got === expected, "stage-once retry must lose no rows")
  }

  test("interleaved ADD CONSTRAINT invalidates the staged append: the " +
      "vintage miss forces a restage whose gates see the new CHECK") {
    // violating batch: staged BEFORE the constraint existed, so a naive
    // reuse would publish rows the constraint never validated — the
    // retry must restage and the stage-time gate must refuse loudly
    val bad = freshRoot("txlog-model-append-chk-bad")
    TxLog.init(spark, bad,
      (0L until 20L).map(k => (k, s"v$k")).toDF("id", "s"))
    TxLog.testRacePublishHook = Some { r =>
      TxLog.addConstraint(spark, r, "nonneg", "id >= 0")
    }
    try {
      val ex = intercept[IllegalArgumentException] {
        TxLog.appendOnce(spark, bad, "neg",
          Seq((-5L, "bad")).toDF("id", "s"))
      }
      assert(ex.getMessage.contains("nonneg"),
        s"expected the CHECK gate on restage, got: ${ex.getMessage}")
    } finally TxLog.testRacePublishHook = None
    assert(TxLog.currentVersion(bad) === 2L,
      "the refused append must leave only the constraint commit")
    assert(tableState(bad).data ===
      (0L until 20L).map(k => k -> s"v$k").toMap)

    // satisfying batch: same race, the restage re-validates clean and
    // the append commits — two stagings (the constraint commit is
    // metadata + an aggregate pass, it stages no data)
    val ok = freshRoot("txlog-model-append-chk-ok")
    TxLog.init(spark, ok,
      (0L until 20L).map(k => (k, s"v$k")).toDF("id", "s"))
    TxLog.testRacePublishHook = Some { r =>
      TxLog.addConstraint(spark, r, "nonneg", "id >= 0")
    }
    try {
      TxLog.dataStages.set(0L)
      assert(TxLog.appendOnce(spark, ok, "pos",
        Seq((7L, "ok")).toDF("id", "s")))
      assert(TxLog.dataStages.get.longValue === 2L,
        "constraint-raced append must restage exactly once")
      assert(TxLog.currentVersion(ok) === 3L)
    } finally TxLog.testRacePublishHook = None
    assert(tableState(ok).data ===
      (0L until 20L).map(k => k -> s"v$k").toMap + (7L -> "ok"))
  }

  test("a pre-staged batch staged before an ADD CONSTRAINT never " +
      "publishes unchecked rows (the SigIndex preStaged path)") {
    val root = freshRoot("txlog-model-prestage-chk")
    TxLog.init(spark, root,
      (0L until 10L).map(k => (k, s"v$k")).toDF("id", "s"))
    val snap = TxLog.snapshot(root).get
    // stage against the pre-constraint snapshot — enforcement runs HERE,
    // against a note set with no CHECK yet
    val staged = TxLog.stageAppend(spark, root,
      Seq((-1L, "bad")).toDF("id", "s"), snap)
    TxLog.addConstraint(spark, root, "nonneg", "id >= 0")
    // the commit must NOT reuse the stale pre-stage: constraint notes
    // are vintage, so this restages and the gate refuses
    val ex = intercept[IllegalArgumentException] {
      TxLog.appendOnceMonotoneKv(spark, root, "feed", 1L,
        Seq((-1L, "bad")).toDF("id", "s"), _ => Map.empty,
        preStaged = Some(staged))
    }
    assert(ex.getMessage.contains("nonneg"))
    assert(tableState(root).data ===
      (0L until 10L).map(k => k -> s"v$k").toMap,
      "the stale pre-stage must never become visible")
  }

  // ---------------------------------------------------------------
  // SCHEMA-EVOLUTION MACHINE: the r15 tier (type widening on append,
  // evolving MERGE, rename, restore) composed randomly — the model
  // tracks values AND the schema (id width, value-column name, the
  // evolved score column), and the table must match both after every
  // op and under time travel to every retained version. This is where
  // cross-feature bugs would hide: a restore across a widening, an
  // evolving merge after a rename, a widen-append onto an evolved
  // schema.
  // ---------------------------------------------------------------

  /** One modeled version of the evolving table. `score` is None for
    * rows that predate the column (they read as NULL). */
  private final case class EState(data: Map[Long, (String, Option[Long])],
      valueCol: String, idWide: Boolean, hasScore: Boolean)

  private def longOf(a: Any): Long = a match {
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
  }

  private def eState(root: String, v: Long = -1L): EState = {
    val df = TxLog.read(spark, root, v)
    val vc = df.columns.find(c => c == "s" || c == "t").get
    val hasScore = df.columns.contains("score")
    val idWide =
      df.schema("id").dataType == org.apache.spark.sql.types.LongType
    val data = df.collect().map { r =>
      val score =
        if (!hasScore) None
        else Option(r.getAs[Any]("score")).map(longOf)
      longOf(r.getAs[Any]("id")) -> (r.getAs[String](vc), score)
    }.toMap
    EState(data, vc, idWide, hasScore)
  }

  private def runEvolutionSequence(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val root = freshRoot(s"txlog-model-evo$seed")
    var history = Vector.empty[EState]
    def cur = history.last
    var fresh = 1000L
    def freshKeys(n: Int): Seq[Long] = {
      val ks = (0 until n).map(j => fresh + j)
      fresh += n
      ks
    }
    /** A batch frame matching the CURRENT schema (id width, value-column
      * name, score presence) — what a well-behaved producer sends. */
    def frameFor(rows: Map[Long, (String, Option[Long])],
        wideIds: Boolean, withScore: Boolean, vc: String) = {
      val base =
        if (withScore)
          rows.toSeq.map { case (k, (v, sc)) => (k, v, sc.map(Long.box).orNull) }
            .toDF("id", vc, "score")
            .withColumn("score", col("score").cast("long"))
        else rows.toSeq.map { case (k, (v, _)) => (k, v) }.toDF("id", vc)
      if (wideIds) base.withColumn("id", col("id").cast("long"))
      else base.withColumn("id", col("id").cast("int"))
    }

    val init = Map(1L -> ("seed", Option.empty[Long]),
      2L -> ("b", Option.empty[Long]))
    TxLog.init(spark, root, frameFor(init, wideIds = false,
      withScore = false, vc = "s"))
    history = history :+ EState(init, "s", idWide = false, hasScore = false)
    // the machine's widening appends (op1) need the per-table opt-in;
    // the property commit is its own version with an UNCHANGED model
    // state (metadata-only)
    TxLog.setProperties(root, Map("type_widening" -> "true"))
    history = history :+ history.last

    val opLog = scala.collection.mutable.ListBuffer.empty[String]
    (1 to ops).foreach { i =>
      val kind = rnd.nextInt(6)
      opLog += s"v${history.size + 1}=op$kind"
      val c = cur
      kind match {
        case 0 => // schema-conform append, fresh keys
          val rows = freshKeys(1 + rnd.nextInt(3)).map(k =>
            k -> (s"a$k", if (c.hasScore) Some(k % 100) else None)).toMap
          TxLog.commitAppend(spark, root,
            frameFor(rows, c.idWide, c.hasScore, c.valueCol),
            expected = TxLog.currentVersion(root))
          history = history :+ c.copy(data = c.data ++ rows)
        case 1 => // WIDENING append: long ids — widens a narrow table's
          // committed id type in the same commit (no-op widening when
          // already wide: just a plain append)
          val rows = freshKeys(1 + rnd.nextInt(2)).map(k =>
            k -> (s"w$k", if (c.hasScore) Some(k % 50) else None)).toMap
          TxLog.commitAppend(spark, root,
            frameFor(rows, wideIds = true, c.hasScore, c.valueCol),
            expected = TxLog.currentVersion(root))
          history = history :+
            c.copy(data = c.data ++ rows, idWide = true)
        case 2 => // EVOLVING MERGE: the batch carries `score`; the first
          // one widens the schema with it, later ones update through it
          val existing = rnd.shuffle(c.data.keys.toSeq)
            .take(1 + rnd.nextInt(2))
          val batch = (existing ++ freshKeys(1)).map(k =>
            k -> (s"e$k", Some(k % 97))).toMap
          TxLog.mergeInto(spark, root,
            frameFor(batch, c.idWide, withScore = true, c.valueCol), "id",
            matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
            notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)),
            schemaEvolution = true)
          history = history :+ EState(c.data ++ batch, c.valueCol,
            c.idWide, hasScore = true)
        case 3 => // metadata-only rename of the value column
          val next = if (c.valueCol == "s") "t" else "s"
          TxLog.renameColumn(spark, root, c.valueCol, next)
          history = history :+ c.copy(valueCol = next)
        case 4 => // restore: schema AND content roll back together
          val target = 1 + rnd.nextInt(history.size)
          TxLog.restore(spark, root, target.toLong)
          history = history :+ history(target - 1)
        case 5 => // predicate delete (key 1 protected)
          val m = 2 + rnd.nextInt(4)
          TxLog.delete(spark, root, col("id") % m === 0 && col("id") =!= 1L)
          history = history :+ c.copy(data = c.data.filter {
            case (k, _) => k % m != 0 || k == 1L })
      }
      assert(TxLog.currentVersion(root) === history.size.toLong,
        s"seed=$seed op#$i kind=$kind: version diverged " +
          s"(ops: ${opLog.mkString(", ")})")
      assert(eState(root) === cur,
        s"seed=$seed op#$i kind=$kind: state diverged " +
          s"(ops: ${opLog.mkString(", ")})")
    }

    // time travel: every version's CONTENT and SCHEMA (width, value
    // name, score presence) match its model state
    (1 to history.size).foreach { v =>
      assert(eState(root, v.toLong) === history(v - 1),
        s"seed=$seed: version $v diverged under time travel " +
          s"(ops: ${opLog.mkString(", ")})")
    }
  }

  test("seeded schema-evolution machine: widening appends, evolving " +
      "merges, renames and restores compose (content AND schema modeled)") {
    runEvolutionSequence(seed = 7L, ops = 12)
    runEvolutionSequence(seed = 2024L, ops = 12)
  }

  test("a narrow append racing a WIDENING interloper: the CAS loser's " +
      "stale-width stage is invalidated, the retry lands upcast") {
    val root = freshRoot("txlog-model-widen-race")
    TxLog.init(spark, root,
      Seq((1, "a"), (2, "b")).toDF("id", "s")) // int id
    TxLog.setProperties(root, Map("type_widening" -> "true"))
    // between the loser's staging (int files, int committed schema) and
    // its publish, a WIDENING append lands (bigint id): the loser's
    // layout vintage no longer matches — reusing the narrow stage would
    // regress the committed width on its files; the retry must restage
    // under the evolved schema (upcast at stage time)
    TxLog.testRacePublishHook = Some { r =>
      TxLog.appendOnce(spark, r, "wide",
        Seq((3000000000L, "w")).toDF("id", "s"))
    }
    try {
      TxLog.dataStages.set(0L)
      assert(TxLog.appendOnce(spark, root, "narrow",
        Seq((7, "n")).toDF("id", "s")))
    } finally TxLog.testRacePublishHook = None
    val t = TxLog.read(spark, root)
    assert(t.schema("id").dataType ===
      org.apache.spark.sql.types.LongType,
      "the widening must survive the race")
    assert(t.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b"), (7L, "n"), (3000000000L, "w")))
  }
}
