package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval: an op, one of its layers (build, plan, exec), a
  * TxLog call or a stream trigger. `parent` names the enclosing span;
  * times are epoch nanoseconds. */
final case class Span(name: String, opId: Int, parent: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span store, written once when the run ends. Disabled
  * tracers record nothing and cost a branch per span. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[T](name: String, opId: Int, parent: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally spans.synchronized {
        spans += Span(name, opId, parent, t0 + epochOffsetNs, System.nanoTime() + epochOffsetNs)
      }
    }

  def add(s: Span): Unit = if (enabled) spans.synchronized(spans += s)

  def toJson: String = spans.synchronized {
    spans.map(s =>
      s"""{"name":"${s.name}","op":${s.opId},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]\n")
  }
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

final case class TaskRec(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
    schedDelayMs: Long, inBytes: Long, inRows: Long, shReadBytes: Long,
    fetchWaitMs: Long, shWriteBytes: Long, spillBytes: Long)

/** Records jobs, tasks and cached-block occupancy through Spark's public
  * listener interface. Attribution to ops is by time: the client is a
  * single closed loop, so every job submitted inside an op's interval
  * belongs to that op, whichever thread submitted it. */
final class ExecRecorder extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  @volatile var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime
      val rec = TaskRec(e.stageId, i.duration, m.executorRunTime,
        m.executorCpuTime, math.max(0L, sched), m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
      synchronized(tasks += rec)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockManagerId.executorId + "/" + info.blockId.name
    storageNow -= blocks.getOrElse(key, 0L)
    if (info.memSize > 0) blocks(key) = info.memSize else blocks.remove(key)
    storageNow += info.memSize
    if (storageNow > storagePeak) storagePeak = storageNow
  }

  def resetPeak(): Unit = synchronized { storagePeak = storageNow }

  def clear(): Unit = synchronized { jobs.clear(); tasks.clear() }
}

/** Collects every micro-batch progress report of the traced passes. */
final class StreamRecorder extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def clear(): Unit = synchronized(progress.clear())
}
