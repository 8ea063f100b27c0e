package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable.ArrayBuffer

/** Dev-only per-stage profiler (not driver contract): runs named registered
  * queries through the noop sink with a listener recording every completed
  * stage's wall time, task count, and shuffle/input volumes — the guide-§1
  * "where does the time actually go" empirical loop, without the Spark UI
  * (disabled in this sandbox's harness runs).
  *
  * Usage: runMain graft.StageDiag <name> [<name> ...]
  *   env SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: all cores),
  *   SPARK_GRAFT_DIAG_REPS (default 2; stages printed for the LAST rep so
  *   codegen/JIT warmup does not pollute the read).
  *
  * Spark runs broadcast and subquery builds on its own thread pool
  * (`SQLExecution.withThreadLocalCaptured`), so their stages carry that
  * pool's call site (`CompletableFuture.java`). Such a stage is named
  * after the SQL execution that owns it instead: its job carries the
  * execution id it was started under, and the execution's start event
  * carries the action's call site.
  */
object StageDiag {
  private case class St(id: Int, name: String, ms: Long, tasks: Int,
    inputMb: Double, shReadMb: Double, shWriteMb: Double, spillMb: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Paths.sf("sf0.1"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_DIAG_REPS", "2").toInt
    val spark = GraftSession.build("graft-stagediag")

    val stages = ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      // listener-bus thread only: plain maps suffice
      private val execOfStage = scala.collection.mutable.Map.empty[Int, Long]
      private val execSite = scala.collection.mutable.Map.empty[Long, String]
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execSite(s.executionId) = s.description
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => e.stageIds.foreach(execOfStage(_) = id.toLong))
      private def nameOf(stageId: Int, site: String): String =
        if (!site.contains("CompletableFuture.java")) site
        else execOfStage.get(stageId).fold(site)(id =>
          s"pool, exec $id: ${execSite.getOrElse(id, "?")}")
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val ms = (for {s <- i.submissionTime; c <- i.completionTime} yield c - s)
          .getOrElse(-1L)
        val name = nameOf(i.stageId, i.name.takeWhile(_ != '\n')).take(90)
        execOfStage.remove(i.stageId)
        stages.synchronized {
          stages += St(i.stageId, name, ms,
            i.numTasks,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        }
      }
    })

    val qs = SparkEntry.queries ++
      SparkEntry.benchOnlyDefs.map(d => d.name -> d.run).toMap
    for (name <- args) {
      qs.get(name) match {
        case None => println(s"(unknown query: $name)")
        case Some(run) =>
          // warm at the smallest sf (codegen cache), like Bench
          try run(spark, Paths.sf("sf0.001"))
            .write.mode("overwrite").format("noop").save()
          catch { case _: Throwable => () }
          spark.catalog.clearCache()
          var wall = 0.0
          for (rep <- 1 to reps) {
            stages.synchronized(stages.clear())
            val t0 = System.nanoTime()
            run(spark, sfDir).write.mode("overwrite").format("noop").save()
            wall = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            println(f"[diag] $name rep$rep wall=$wall%.3f s")
          }
          val snap = stages.synchronized(stages.toVector)
          val total = snap.map(_.ms).sum / 1e3
          println(f"[diag] $name stages=${snap.size} stage-ms-sum=$total%.3f s (last rep)")
          println(f"[diag] ${"id"}%4s ${"ms"}%7s ${"tasks"}%5s ${"inMB"}%8s " +
            f"${"shRdMB"}%8s ${"shWrMB"}%8s ${"spill"}%6s  name")
          snap.sortBy(-_.ms).take(25).foreach { s =>
            println(f"[diag] ${s.id}%4d ${s.ms}%7d ${s.tasks}%5d ${s.inputMb}%8.1f " +
              f"${s.shReadMb}%8.1f ${s.shWriteMb}%8.1f ${s.spillMb}%6.1f  ${s.name}")
          }
      }
    }
    spark.stop()
  }
}
