package graftbench

import graft.model.{SchemaChangeEvent, TableId, TableInfo}
import graft.sinks.{DataSink, ParquetUpsertSink}
import graft.sources.{CdcDataSource, SourceBatch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Per-call wall times of one wrapped layer. */
final class CallStats {
  val ms = mutable.ArrayBuffer[Double]()
  def add(v: Double): Unit = synchronized { ms += v }
  def calls: Int = ms.size
  def total: Double = ms.sum
  def p50: Double = Stats.quantile(ms.toSeq, 0.5)
}

/** DataSink wrapper: times every `write`, `applySchemaChange` and `compact`
  * from outside and delegates to [[ParquetUpsertSink]]. When tracing, each
  * call is a `sinks` span and the sink directory is swept after the call to
  * count the parquet files and bytes it wrote; the sweep is the harness's
  * own work, so it is a `bench` span.
  */
final class TimedSink(val inner: ParquetUpsertSink, root: java.io.File)(
    implicit sc: SparkCtx) extends DataSink {
  val writes = new CallStats
  val schemaChanges = new CallStats
  val compacts = new CallStats
  var filesWritten = 0L
  var bytesWritten = 0L
  /** Schema changes other than table creation that reached the sink. */
  var evolutions = 0L
  private val seen = mutable.Set[String]()

  private def timed[T](name: String, stats: CallStats)(f: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(name, "sinks")(f)
    finally {
      stats.add((System.nanoTime() - t0) / 1e6)
      if (Trace.on) Trace.span("bench.sweep", "bench")(sweep())
    }
  }

  private def sweep(): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) {
        val key = f.getPath + "@" + f.lastModified()
        if (seen.add(key)) { filesWritten += 1; bytesWritten += f.length() }
      }
    walk(root)
  }

  override def applySchemaChange(e: SchemaChangeEvent): Unit = {
    if (!e.isInstanceOf[graft.model.CreateTableEvent]) evolutions += 1
    timed("sink.schema_change", schemaChanges)(inner.applySchemaChange(e))
  }
  override def write(tableId: TableId, exploded: DataFrame, info: TableInfo): Unit =
    timed("sink.write", writes)(inner.write(tableId, exploded, info))
  def compact(tableId: TableId, info: TableInfo): Unit =
    timed("sink.compact", compacts)(inner.compact(tableId, info))
  override def declaresPartitionKeys: Boolean = inner.declaresPartitionKeys
  override def sinkDefinedPartitionKeys(tableId: TableId, info: TableInfo): Option[Seq[String]] =
    inner.sinkDefinedPartitionKeys(tableId, info)

  /** Bytes of every parquet file currently under the sink directory. */
  def tableBytes: Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(root)
  }
}

/** CdcDataSource wrapper: times planning (`batches`) and every pull of the
  * next SourceBatch; while tracing, the time between two pulls — the
  * runner processing the batch it just pulled — is a `pipeline` span, so
  * sink calls nest inside it.
  */
final class TimedSource(inner: CdcDataSource)(implicit sc: SparkCtx) extends CdcDataSource {
  val pulls = new CallStats
  val batchesMs = new CallStats
  var planMs = 0.0

  override def batches(spark: SparkSession): Iterator[SourceBatch] = {
    val t0 = System.nanoTime()
    val it = Trace.span("source.batches", "sources")(inner.batches(spark))
    planMs += (System.nanoTime() - t0) / 1e6
    new Iterator[SourceBatch] {
      private var open: Option[(Trace.Open, Long)] = None
      private def closeBatch(): Unit = open.foreach { case (o, t) =>
        if (o != null) o.close()
        batchesMs.add((System.nanoTime() - t) / 1e6)
        open = None
      }
      override def hasNext: Boolean = {
        closeBatch()
        it.hasNext
      }
      override def next(): SourceBatch = {
        closeBatch()
        val t1 = System.nanoTime()
        val b = Trace.span("source.pull", "sources")(it.next())
        pulls.add((System.nanoTime() - t1) / 1e6)
        open = Some((if (Trace.on) Trace.open("pipeline.batch", "pipeline") else null,
          System.nanoTime()))
        b
      }
    }
  }
}
