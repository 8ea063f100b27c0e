package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerDrain
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Plan guard: every broadcast hash join on the merge-on-read read and
  * commit paths and in the signature-index probe keys on ONE integral
  * column. Spark builds such a broadcast as a LongHashedRelation sized to
  * its rows; any other key builds a page-backed UnsafeHashedRelation whose
  * executor copy takes a whole Tungsten page outside the memory manager's
  * accounting (TxLog's `DvKeyCol` doc). The guard reads the final (AQE)
  * plan of every query an operation runs, commits included. */
class BroadcastKeySpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  /** The executed plans of every query `body` runs. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        got.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    got.asScala.toSeq
  }

  private def broadcastJoins(p: SparkPlan): Seq[BroadcastHashJoinExec] = {
    val here = p match {
      case j: BroadcastHashJoinExec => Seq(j)
      case _ => Nil
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children ++ other.subqueries
    }
    here ++ below.flatMap(broadcastJoins)
  }

  private def oneIntegralKey(j: BroadcastHashJoinExec): Boolean =
    j.leftKeys.size == 1 && (j.leftKeys.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })

  /** Asserts the guard over each operation's plans (all are counted
    * before any is asserted); returns how many broadcast joins each had. */
  private def guard(ops: (String, Seq[SparkPlan])*): Seq[Int] = {
    val counted = ops.map { case (what, plans) =>
      val joins = plans.flatMap(broadcastJoins)
      val paged = joins.filterNot(oneIntegralKey)
      info(s"$what: ${joins.size} broadcast joins, ${paged.size} page-backed")
      (what, joins.size, paged)
    }
    val bad = counted.filter(_._3.nonEmpty)
    assert(bad.isEmpty, bad.map { case (what, n, paged) =>
      s"$what: ${paged.size} of $n broadcast joins key on a string or several columns: " +
        paged.map(j => s"${j.joinType} on ${j.leftKeys.mkString(", ")}").mkString("; ")
    }.mkString("\n"))
    counted.map(_._2)
  }

  /** A four-file table with vectors in every file. */
  private def vectored(tag: String): String = {
    val root = freshRoot(tag)
    TxLog.init(spark, root, docs.select("doc_id", "text", "lang").repartition(4))
    TxLog.deleteMoR(spark, root, col("doc_id") % 7 === 0)
    root
  }

  test("a MoR read broadcasts its positions on one long key") {
    val root = vectored("bk-read")
    val Seq(n) = guard("MoR read" -> plansOf(TxLog.read(spark, root).count()))
    assert(n >= 1, "the read must broadcast its positions")
  }

  test("deleteMoR and updateMoR commits over vectored files broadcast on one long key") {
    val root = vectored("bk-commit")
    val Seq(del, upd) = guard(
      "deleteMoR" -> plansOf(TxLog.deleteMoR(spark, root, col("doc_id") % 5 === 0)),
      "updateMoR" -> plansOf(TxLog.updateMoR(spark, root,
        col("doc_id") % 3 === 0, Seq("lang" -> lit("xx")))))
    // the candidates already carry vectors, so each commit's
    // candidate read applies them through a broadcast anti-join
    assert(del >= 1 && upd >= 1, s"deleteMoR $del, updateMoR $upd broadcasts")
  }

  test("a change-feed read across a deletion-vector diff broadcasts on one long key") {
    val root = vectored("bk-cdf")
    TxLog.deleteMoR(spark, root, col("doc_id") % 5 === 0)
    val Seq(n) = guard(
      "readChanges" -> plansOf(TxLog.readChanges(spark, root, 2L).count()))
    assert(n >= 1, "the feed must fetch rows at positions through a broadcast")
  }

  test("SigIndex probe and ingestBatch broadcast on one long key") {
    val b1 = docs.filter(col("doc_id") % 3 =!= 2).select("doc_id", "text")
    val b2 = docs.filter(col("doc_id") % 3 === 2).select("doc_id", "text")
    val idx = freshRoot("bk-sig")
    SigIndex.build(b1, idx)
    val sink = freshRoot("bk-sig-pairs")
    val Seq(probe, ingest) = guard(
      "probe" -> plansOf(SigIndex.probe(spark, idx, b2).count()),
      "ingestBatch" -> plansOf(SigIndex.ingestBatch(spark, idx, sink, b2, 1L)))
    assert(probe >= 2 && ingest >= 2, s"probe $probe, ingestBatch $ingest broadcasts")
  }
}
