package graftbench

import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

object StreamUtil {
  /** File name -> micro-batch id, read from the file source's metadata log
    * in the query checkpoint (`sources/0/<batch>` and its `.compact` files).
    */
  def fileBatches(checkpoint: java.io.File): Map[String, Long] = {
    val dir = new java.io.File(checkpoint, "sources/0")
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().collect {
          case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
        }.toList
        finally src.close()
      }.toMap
  }

  /** Commit time (epoch ms) per batch id: progress timestamp + triggerExecution. */
  def commitTimes(q: StreamingQuery): Map[Long, Long] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L))
    }.toMap

  /** Micro-batches that carried data. */
  def dataBatches(q: StreamingQuery): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.durationMs.containsKey("addBatch") && p.numInputRows > 0)

  def await(q: StreamingQuery, timeoutMs: Long): Boolean = {
    val done =
      try q.awaitTermination(timeoutMs)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] stream ${q.name} failed: ${e.getMessage}")
        return false
      }
    if (!done) q.stop()
    done && q.exception.isEmpty
  }
}
