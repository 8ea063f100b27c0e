package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, Finance, SigIndex, TxLog}
import graft.sources.Tables
import graft.streaming.Streams

/** Writes beside reads, over a slice of the sf0.1 tables committed under
  * perfbench/data (perfbench/make_data.py cuts it). A seeded sequence of
  * TxLog commits (upsert, append, merge-on-read delete and update, and a
  * compact after the third of them and after the last) runs against a
  * keyed table of sf0.1 orders, each commit followed by a snapshot read
  * checked against an in-memory model that replays the same sequence.
  * Then three streams (funnel_stateful, bars_ingest, sig_ingest) consume
  * staged files, one file per micro-batch, and each stream's output is
  * checked against its batch twin computed in setup. */
final class IngestWorkload(seed: Long, nproc: Int, data: File) extends Workload {
  val name = "ingest"
  /** Orders in the slice; `PoolRows` of them, picked by the seed, are held
    * out of the base table and come in through upserts and appends. */
  private val SliceOrders = 40000
  private val PoolRows = 5000
  private val BaseRows = SliceOrders - PoolRows
  /** An upsert replaces `UpsertHits` live orders (with another customer)
    * and adds `UpsertNew` held-out ones; an append adds `AppendRows`. */
  private val UpsertHits = 1000
  private val UpsertNew = 1000
  private val AppendRows = 2000
  private val Slices = 2
  /** Events in the slice, and the length of the window a run streams. */
  private val SliceEvents = 12000
  private val Events = 9000
  private val Docs = 450
  /** The commit schedule is fixed, so every seed costs the same; the
    * batches' keys and values and the rows deleted and updated follow it. */
  private val Schedule = Seq("upsert", "append", "delete_mor", "compact",
    "update_mor", "append", "compact")

  def sizes: Seq[(String, Any)] = Seq("base_rows" -> BaseRows,
    "upsert_rows" -> (UpsertHits + UpsertNew), "append_rows" -> AppendRows,
    "commits" -> (Schedule.size + 1), "reads" -> Schedule.size, "events" -> Events,
    "docs" -> Docs, "micro_batches_per_stream" -> Slices)
  val passSeconds = 9.0
  val warmPasses = 1

  private sealed trait Step { def kind: String }
  private final case class Upsert(dir: String, rows: Long) extends Step { val kind = "upsert" }
  private final case class Append(dir: String, rows: Long) extends Step { val kind = "append" }
  private final case class DeleteMoR(m: Int, r: Int) extends Step { val kind = "delete_mor" }
  private final case class UpdateMoR(m: Int, r: Int) extends Step { val kind = "update_mor" }
  private case object Compact extends Step { val kind = "compact" }

  /** Model state after a step: live orders, sum(o_orderkey), sum(o_custkey),
    * orders with status F; rows changed. */
  private final case class Expect(rows: Long, sumK: Long, sumCust: Long, fulfilled: Long,
      changed: Long)

  private var base = ""
  private var evParent = ""
  private var docDir = ""
  private var steps: Seq[Step] = Nil
  private var expects: Seq[Expect] = Nil
  private var funnelTwin: Map[Long, Int] = Map.empty
  private var barsTwin: Set[(String, Long, Long, Long, Long)] = Set.empty
  private var sigTwin: Set[(Long, Long)] = Set.empty

  /** Write `df` as one Parquet file at `target`, with a fixed mtime so
    * the file source takes the staged files in order. */
  private def writeOne(df: DataFrame, tmp: File, target: File, mtimeMs: Long): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    target.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, target.toPath)
    target.setLastModified(mtimeMs)
    Main.deleteTree(tmp)
  }

  private def slice(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(new File(data, s"$table.parquet").getAbsolutePath)

  private def shuffled[T](xs: Seq[T], rnd: java.util.Random): Seq[T] = {
    val a = xs.toBuffer
    (a.size - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def setup(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val tmp = new File(dir, "tmp")

    // ---- keyed table and the commit sequence, replayed on the model
    val orders = slice(spark, "orders")
    val cols = orders.columns.map(col)
    val byKey = orders.select("o_orderkey", "o_custkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    require(byKey.size == SliceOrders, s"orders slice holds ${byKey.size} rows, not $SliceOrders")
    val custs = byKey.values.map(_._1).toSeq.distinct.sorted
    val keys = shuffled(byKey.keys.toSeq.sorted, rnd)
    val pool = keys.take(PoolRows).iterator
    val model = mutable.LinkedHashMap.empty[Long, (Long, String)]
    keys.drop(PoolRows).sorted.foreach(k => model(k) = byKey(k))
    def rowsOf(ks: Seq[Long]): DataFrame =
      orders.join(ks.toDF("o_orderkey"), "o_orderkey").select(cols: _*)
    def stage(name: String, df: DataFrame): String = {
      val path = new File(dir, name).getAbsolutePath
      df.write.parquet(path)
      path
    }
    base = stage("base", orders.join(keys.take(PoolRows).toDF("o_orderkey"), Seq("o_orderkey"),
      "left_anti").select(cols: _*).repartition(nproc))
    val changes = Schedule.zipWithIndex.map { case (kind, i) =>
      val (step, changed) = kind match {
        case "upsert" =>
          val live = model.keys.toIndexedSeq
          val hits = shuffled(live, rnd).take(UpsertHits)
            .map(k => (k, custs(rnd.nextInt(custs.size))))
          val fresh = Seq.fill(UpsertNew)(pool.next())
          val batch = orders.join(hits.toDF("o_orderkey", "new_cust"), "o_orderkey")
            .withColumn("o_custkey", col("new_cust")).select(cols: _*)
            .unionByName(rowsOf(fresh))
          // a replaced order takes the batch row: the slice's status, the new customer
          hits.foreach { case (k, c) => model(k) = (c, byKey(k)._2) }
          fresh.foreach(k => model(k) = byKey(k))
          val rows = UpsertHits + UpsertNew
          (Upsert(stage(s"batch-$i", batch.coalesce(1)), rows), rows)
        case "append" =>
          val fresh = Seq.fill(AppendRows)(pool.next())
          fresh.foreach(k => model(k) = byKey(k))
          (Append(stage(s"batch-$i", rowsOf(fresh).coalesce(1)), AppendRows), AppendRows)
        case "delete_mor" =>
          val (m, r) = (50, rnd.nextInt(50))
          val gone = model.keys.filter(_ % m == r).toSeq
          model --= gone
          (DeleteMoR(m, r), gone.size)
        case "update_mor" =>
          val (m, r) = (40, rnd.nextInt(40))
          val hit = model.keys.filter(_ % m == r).toSeq
          hit.foreach(k => model(k) = (model(k)._1, "F"))
          (UpdateMoR(m, r), hit.size)
        case _ => (Compact, 0)
      }
      (step, Expect(model.size, model.keys.sum, model.values.map(_._1).sum,
        model.values.count(_._2 == "F"), changed.toLong))
    }
    steps = changes.map(_._1)
    expects = changes.map(_._2)

    // ---- events: a seeded window of the slice, in event_id (= time)
    // order, staged one file per micro-batch
    val lo = rnd.nextInt(SliceEvents - Events + 1).toLong
    val per = Events / Slices
    evParent = new File(dir, "ev").getAbsolutePath
    val evDir = new File(evParent, "events.parquet")
    (0 until Slices).foreach { b =>
      val from = lo + b * per
      val window = slice(spark, "events")
        .filter(col("event_id") >= from && col("event_id") < from + per).orderBy("event_id")
      writeOne(window, tmp, new File(evDir, f"batch-$b%03d.parquet"), 1700000000000L + b * 1000L)
    }

    // ---- documents: the seed deals them out to the micro-batches
    val docs = slice(spark, "documents").select("doc_id", "text")
    val ids = shuffled(docs.select("doc_id").as[Long].collect().toSeq.sorted, rnd)
    require(ids.size == Docs, s"documents slice holds ${ids.size} docs, not $Docs")
    val batchOf = ids.zipWithIndex.map { case (d, i) => d -> i % Slices }.toMap
    docDir = new File(dir, "docs").getAbsolutePath
    (0 until Slices).foreach { b =>
      val mine = batchOf.collect { case (d, `b`) => d }.toSeq
      writeOne(docs.filter(col("doc_id").isin(mine: _*)), tmp,
        new File(docDir, f"batch-$b%03d.parquet"), 1700000000000L + b * 1000L)
    }

    // ---- batch twins of the three streams
    funnelTwin = Streams.funnelStages(Tables.events(spark, evParent)).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    barsTwin = Finance.bars(spark, evParent).collect().map(barOf).toSet
    val sh = Dedup.shingles(spark.read.parquet(docDir)).cache()
    sigTwin = Dedup.exactJaccard(sh, Dedup.lshCandidates(Dedup.minhashSignature(sh)))
      .filter(col("jac") >= Dedup.Tau)
      .select(least(col("a_id"), col("b_id")), greatest(col("a_id"), col("b_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => batchOf(a) != batchOf(b) }.toSet
    sh.unpersist()
    require(sigTwin.nonEmpty, "the document set must hold cross-batch near-duplicates")
  }

  private def barOf(r: Row): (String, Long, Long, Long, Long) =
    (r.getAs[String]("event_type"), r.getAs[Long]("bkt"), r.getAs[Long]("close_ck"),
      r.getAs[Long]("high_ck"), r.getAs[Long]("low_ck"))

  /** Files under `root`, path → size. */
  private def listing(root: File): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else out(f.getPath) = f.length()
    walk(root)
    out.toMap
  }

  private def streamTriggers(ctx: Ctx, q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      ctx.samples.add("batch_s", p.durationMs.get("triggerExecution").longValue / 1e3)
    }
  }

  def ops(spark: SparkSession, passDir: File): Seq[Op] = {
    val root = new File(passDir, "table")
    val rootPath = root.getAbsolutePath
    // per-pass TxLog write accounting (traced passes only)
    var bytesWritten = 0L
    var logicalBytes = 0.0

    /** One TxLog call, with its counters read before and after on this
      * thread and, when traced, the table root listed before and after. */
    def commit(ctx: Ctx, kind: String, changedRows: Long, last: Boolean = false)(f: => Long): Unit = {
      val traced = ctx.tracer.enabled
      val before = if (traced) listing(root) else Map.empty[String, Long]
      val (p0, l0, d0) = (TxLog.manifestParses.get.longValue, TxLog.logListings.get.longValue,
        TxLog.dataStages.get.longValue)
      val t0 = System.nanoTime()
      ctx.call(s"txlog.$kind")(f)
      ctx.samples.add(s"txlog.${kind}_s", (System.nanoTime() - t0) / 1e9)
      ctx.samples.add("txlog.manifest_parses", (TxLog.manifestParses.get - p0).toDouble)
      ctx.samples.add("txlog.log_listings", (TxLog.logListings.get - l0).toDouble)
      ctx.samples.add("txlog.data_stages", (TxLog.dataStages.get - d0).toDouble)
      if (traced) {
        val added = listing(root) -- before.keySet
        val bytes = added.values.sum
        ctx.samples.add("txlog.bytes_written_mb", bytes / 1048576.0)
        ctx.samples.add("txlog.files_added", added.size.toDouble)
        val snap = TxLog.snapshot(rootPath).get
        val live = snap.entries.flatMap(_.size).sum
        val liveRows = snap.entries.flatMap(_.liveRows).sum
        bytesWritten += bytes
        if (liveRows > 0) logicalBytes += changedRows * live.toDouble / liveRows
        if (last) {
          if (logicalBytes > 0) ctx.samples.add("txlog.write_amp", bytesWritten / logicalBytes)
          if (live > 0) ctx.samples.add("txlog.space_amp", listing(root).values.sum.toDouble / live)
        }
      }
    }

    val init = Op("0_init", "commit", BaseRows) { ctx =>
      commit(ctx, "init", BaseRows)(TxLog.init(spark, rootPath, spark.read.parquet(base)))
    }
    val key = col("o_orderkey")
    val txOps = steps.zip(expects).zipWithIndex.flatMap { case ((step, want), i) =>
      val n = i + 1
      val prevRows = if (i == 0) BaseRows.toLong else expects(i - 1).rows
      val batchRows = step match { case Upsert(_, r) => r; case Append(_, r) => r; case _ => prevRows }
      Seq(
        Op(s"${n}_${step.kind}", "commit", batchRows) { ctx =>
          commit(ctx, step.kind, want.changed, last = n == steps.size) {
            step match {
              case Upsert(batch, _) =>
                TxLog.upsert(spark, rootPath, spark.read.parquet(batch), "o_orderkey")
              case Append(batch, _) => TxLog.insertInto(spark, rootPath, spark.read.parquet(batch))
              case DeleteMoR(m, r) => TxLog.deleteMoR(spark, rootPath, key % m === r)
              case UpdateMoR(m, r) =>
                TxLog.updateMoR(spark, rootPath, key % m === r, Seq("o_orderstatus" -> lit("F")))
              case Compact => TxLog.compact(spark, rootPath, targetFiles = nproc)
            }
          }
        },
        Op(s"${n}_read", "read", want.rows) { ctx =>
          val r = ctx.frame(TxLog.read(spark, rootPath).agg(count(lit(1)), sum(key),
            sum("o_custkey"), count(when(col("o_orderstatus") === "F", 1))))(_.head())
          ctx.expect("rows", r.getLong(0), want.rows)
          ctx.expect("sum(o_orderkey)", r.getLong(1), want.sumK)
          ctx.expect("sum(o_custkey)", r.getLong(2), want.sumCust)
          ctx.expect("status F", r.getLong(3), want.fulfilled)
        })
    }

    val evDir = new File(evParent, "events.parquet").getAbsolutePath
    val funnel = Op("funnel_stateful", "stream", Events) { ctx =>
      val got = new ConcurrentHashMap[Long, Int]()
      val q = ctx.call("stream.start") {
        Streams.funnelStateful(Streams.eventsStream(spark, evDir, Some(1))).toDF()
          .writeStream
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            b.collect().foreach(r => got.merge(r.getLong(0), r.getInt(1), (a: Int, c: Int) => math.max(a, c)))
          }
          .option("checkpointLocation", new File(passDir, "funnel-chk").getAbsolutePath)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
      }
      ctx.call("stream.run")(streamTriggers(ctx, q))
      ctx.expect("users", got.size, funnelTwin.size)
      ctx.expect("stages", got.asScala.toMap, funnelTwin)
    }
    val bars = Op("bars_ingest", "stream", Events) { ctx =>
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long, Long, Long, Long)]()
      val q = ctx.call("stream.start") {
        Finance.barsStream(Streams.eventsStream(spark, evDir, Some(1)).withWatermark("ts", "1 hour"))
          .writeStream
          .foreachBatch { (b: Dataset[Row], _: Long) => b.collect().foreach(r => got.add(barOf(r))) }
          .option("checkpointLocation", new File(passDir, "bars-chk").getAbsolutePath)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }
      ctx.call("stream.run")(streamTriggers(ctx, q))
      // append mode emits a bar once the watermark passes its hour's end
      val watermarkUs = q.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
        .map(w => java.time.Instant.parse(w).toEpochMilli * 1000L).foldLeft(0L)(math.max)
      val sealedBars = barsTwin.filter { case (_, bkt, _, _, _) => (bkt + 1) * 3600000000L <= watermarkUs }
      ctx.expect("bars", got.asScala.toSet, sealedBars)
      if (sealedBars.isEmpty) throw new CheckFailed("bars_ingest: no bar sealed")
    }
    val sig = Op("sig_ingest", "stream", Docs) { ctx =>
      val idx = new File(passDir, "sig-idx").getAbsolutePath
      val pairs = new File(passDir, "sig-pairs").getAbsolutePath
      val q = ctx.call("stream.start") {
        val docs = spark.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(docDir)
        SigIndex.streamingIngest(docs, idx, pairs, new File(passDir, "sig-chk").getAbsolutePath)
      }
      ctx.call("stream.run")(streamTriggers(ctx, q))
      SigIndex.phaseP50s().foreach { case (phase, (p50, _)) => ctx.samples.add(s"sig.${phase}_s", p50) }
      val got = spark.read.parquet(pairs)
        .select(least(col("old_id"), col("new_id")), greatest(col("old_id"), col("new_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ctx.expect("pairs", got, sigTwin)
      ctx.expect("indexed docs", SigIndex.indexedCount(idx), Some(Docs.toLong))
    }
    (init +: txOps) ++ Seq(funnel, bars, sig)
  }
}
