package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Host-engine counters from Spark's listener bus: jobs (as spans, each
  * attributed through the local property the bench sets on the calling
  * thread), stages, tasks and task metrics. `reset` starts a new window.
  */
final class EngineListener extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
    var persistingJobs = 0L
  }
  @volatile var totals = new Totals
  private val jobStart = mutable.Map[Int, (Long, Long, Boolean)]()
  /** (start_us, end_us, persisting) per finished job, for batch classification. */
  val jobs = mutable.ArrayBuffer[(Long, Long, Boolean)]()

  def reset(): Unit = synchronized { totals = new Totals; jobs.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val persisting = e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))
    jobStart(e.jobId) = (e.time * 1000, parent, persisting)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, parent, persisting) =>
      totals.jobs += 1
      if (persisting) totals.persistingJobs += 1
      val end = math.max(start, e.time * 1000)
      jobs += ((start, end, persisting))
      Trace.record(Trace.Span(Trace.newId(), parent, s"job ${e.jobId}", "spark", start, end))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.taskRunMs += m.executorRunTime
      t.taskCpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Streaming progress: one record per micro-batch (Structured Streaming's
  * own per-batch report), turned into `streaming` spans under the phase
  * span the query was started in.
  */
final class ProgressListener extends StreamingQueryListener {
  final case class Batch(queryId: String, batchId: Long, startMs: Long,
      triggerMs: Long, addBatchMs: Long, rows: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  /** Parent span per query id, registered by the bench at start. */
  val parents = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    if (d.containsKey("addBatch")) {
      val b = Batch(p.id.toString, p.batchId, start, ms("triggerExecution"), ms("addBatch"),
        p.numInputRows)
      batches.add(b)
      val parent = Option(parents.get(p.id.toString)).map(_.longValue).getOrElse(0L)
      Trace.record(Trace.Span(Trace.newId(), parent, s"batch ${p.batchId}", "streaming",
        start * 1000, (start + b.triggerMs) * 1000))
    }
  }
}

object Listeners {
  /** Block until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.BusAccess.waitUntilEmpty(spark.sparkContext)
}
