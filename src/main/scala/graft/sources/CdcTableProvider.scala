package graft.sources

import graft.cdc.{Changelog, DdlParser, WireFormat}
import graft.model.{CreateTableEvent, TableId}
import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL/Table-API entry point (SURVEY §3.3): the Spark analog of the
  * reference's `CREATE TABLE ... WITH ('connector' = 'mysql-cdc')`
  * (MySqlTableSourceFactory → ChangelogMode.all(),
  * flink-connector-mysql-cdc/.../table/MySqlTableSource.java:184-193) —
  * a DataSourceV2 `TableProvider` registered as `graft-cdc` that exposes
  * a debezium-JSON feed as the EXPLODED changelog relation
  * (payload columns + `__op` +I/-U/+U/-D/+R + `__seq`), so plain Spark
  * SQL works on top:
  *
  * {{{
  * spark.read.format("graft-cdc")
  *   .option("path", "/feeds/users")
  *   .option("schema.ddl", "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))")
  *   .load()
  *   .createOrReplaceTempView("users_changelog")
  * spark.sql("SELECT count(*) FROM users_changelog WHERE __op = '-D'")
  * }}}
  *
  * The batch scan goes through the `V1Scan` bridge so decoding stays the
  * same declarative `WireFormat.decode` → `Changelog.explode`
  * projection every other front end uses (one codegen'd JSON parse per
  * record — no hand-rolled row reader to drift out of sync), and
  * Catalyst still prunes/pushes over the resulting plan.
  * `spark.readStream` works too ([[CdcTableProvider.CdcMicroBatchStream]]:
  * file-granular offsets, checkpoint resume, latest-offset startup);
  * pipelines needing wire DDL and schema planes belong to
  * [[graft.streaming.StreamingPipeline]], which this provider does not
  * duplicate.
  *
  * Options: `path` (directory of JSON-lines files), `schema.ddl`
  * (CREATE TABLE statement — CDC JSON carries no types), optional
  * `dialect` for the DDL's type spellings, `format` and the debezium
  * consume options ([[graft.cdc.WireFormat.parse]]), and
  * `scan.startup.*`:
  *
  *  - `scan.startup.mode=specific-offset` with `.file`+`.pos` filters by
  *    the envelope's OWN binlog coordinates (`source.file`/`source.pos`,
  *    which debezium stamps on every record) under the reference's
  *    file-length → name → pos order ([[Offsets.binlogAtOrAfter]]) — a
  *    plain predicate over the raw JSON, applied BEFORE decode;
  *  - `.pos` alone filters by the feed position `__seq` (the scalar fast
  *    path; `__seq` is defined once, on `FeedLines`);
  *    `.gtid-set` alone is rejected — testing per-event GTID
  *    containment needs server state this batch relation does not have;
  *  - `scan.startup.mode=timestamp` filters by the envelope's event time
  *    ([[graft.cdc.WireFormat.eventTime]]: debezium `source.ts_ms`, then
  *    `ts_ms`; mongo `clusterTime`; canal has none and is rejected);
  *  - `initial`/`earliest-offset` read everything; `snapshot`/
  *    `latest-offset` are stream concepts and rejected here.
  */
final class CdcTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcTableProvider.explodedSchema(CdcTableProvider.payloadSchema(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CdcTableProvider.CdcTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object CdcTableProvider {

  /** Payload schema from the `schema.ddl` CREATE TABLE statement. */
  private[sources] def payloadSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = Option(options.get("schema.ddl")).getOrElse(
      throw new IllegalArgumentException(
        "graft-cdc needs schema.ddl (a CREATE TABLE statement; CDC JSON carries no types)"))
    val types = Option(options.get("dialect"))
      .map(d => ConnectorCatalog.forName(d).typeMap)
      .getOrElse(ConnectorCatalog.mysqlTypes)
    DdlParser.parse(ddl, TableId.tableOnly("t"), types) match {
      case Seq(CreateTableEvent(_, info)) => info.schema
      case other => throw new IllegalArgumentException(
        s"schema.ddl must be a single CREATE TABLE statement, parsed: $other")
    }
  }

  /** The relation's schema: payload columns + changelog op + sequence. */
  private[sources] def explodedSchema(payload: StructType): StructType =
    StructType(payload.fields.toSeq :+
      StructField(Changelog.OpCol, StringType) :+
      StructField(Changelog.SeqCol, LongType, nullable = false))

  /** Wire format of the feed: the `format` option (default debezium-json)
    * plus the debezium consume options, validated by [[WireFormat.parse]]
    * exactly as the CLI's file sources are. The map's keys are lower-case,
    * so option names match case-insensitively.
    */
  private[sources] def wireFormat(options: CaseInsensitiveStringMap): WireFormat = {
    import scala.jdk.CollectionConverters._
    WireFormat.parse(Option(options.get("format")), options.asScala.toMap)
  }

  /** The envelope's event time for `scan.startup.mode=timestamp` — one
    * definition for the batch relation and the stream.
    */
  private def eventTimeOf(format: WireFormat): org.apache.spark.sql.Column =
    format.eventTime(org.apache.spark.sql.functions.col("value")).getOrElse(
      throw new IllegalArgumentException(s"${format.name} envelopes carry no event " +
        "timestamp this codec decodes; use scalar pos startup"))

  /** Apply `scan.startup.*` as a predicate over the raw (value, __seq)
    * frame, before any decode — codegen'd `get_json_object` probes, no
    * extra pass. See the provider scaladoc for the mode x coordinate
    * matrix.
    */
  private[sources] def startupFiltered(
      json: org.apache.spark.sql.DataFrame,
      options: CaseInsensitiveStringMap): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val opts = options.asCaseSensitiveMap().asScala.toMap
    val format = wireFormat(options)
    StartupMode.fromOptions(opts) match {
      case StartupMode.Initial | StartupMode.Earliest => json
      case StartupMode.SpecificOffset(pos) =>
        json.where(col(Changelog.SeqCol) >= pos)
      case StartupMode.AtBinlogOffset(o) => format match {
        case dbz: WireFormat.Debezium =>
          if (o.file.isEmpty)
            throw new IllegalArgumentException("graft-cdc specific-offset " +
              "needs scan.startup.specific-offset.file + .pos (gtid-set-only " +
              "resume needs per-event GTID state a batch relation does not have)")
          json.where(Offsets.binlogAtOrAfter(
            dbz.field(col("value"), "source.file"),
            dbz.field(col("value"), "source.pos").cast(LongType), o))
        case other => throw new IllegalArgumentException(
          s"binlog coordinates are a debezium concept; ${other.name} feeds resume " +
            "by scalar pos (or a mongo resume token via StreamingPipeline)")
      }
      case StartupMode.AtTimestamp(ts) => json.where(eventTimeOf(format) >= ts)
      case other => throw new IllegalArgumentException(
        s"graft-cdc batch relation does not support scan.startup.mode for $other " +
          "(snapshot/latest-offset are stream concepts)")
    }
  }

  private final class CdcTable(
      tableSchema: StructType,
      options: CaseInsensitiveStringMap) extends Table with SupportsRead {

    override def name(): String =
      s"graft-cdc(${Option(options.get("path")).getOrElse("?")})"
    override def schema(): StructType = tableSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(
        TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

    override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder = {
      val path = Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException("graft-cdc needs a path option"))
      val payload = payloadSchema(options)
      val fullSchema = tableSchema
      new ScanBuilder {
        override def build(): Scan = new V1Scan {
          override def readSchema(): StructType = fullSchema
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new CdcMicroBatchStream(path, payload, options,
              org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = fullSchema
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                // one partition per feed file, numbered as the stream
                // numbers it (see FeedLines)
                val session = context.sparkSession
                val files = listFeedFiles(path, session.sessionState.newHadoopConf())
                val lines = session.sparkContext
                  .parallelize(files.zipWithIndex, math.max(files.size, 1))
                  .flatMap { case (file, fileIdx) =>
                    val ls = new FeedLines(file, fileIdx)
                    org.apache.spark.TaskContext.get()
                      .addTaskCompletionListener[Unit](_ => ls.close())
                    ls.map { case (line, seq) => org.apache.spark.sql.Row(line, seq) }
                  }
                val json = session.createDataFrame(lines, StructType(Seq(
                  StructField("value", StringType),
                  StructField(Changelog.SeqCol, LongType, nullable = false))))
                // one deterministic seq per line, shared by an update's
                // -U/+U pair (they explode from one envelope)
                val paired = wireFormat(options)
                  .decode(startupFiltered(json, options), payload, Some(Changelog.SeqCol))
                  .drop(Changelog.MetaCol)
                Changelog.explode(paired).rdd
              }
            }.asInstanceOf[T]
        }
      }
    }
  }

  /** List a feed directory's data files in name order — the feed's event
    * order contract (files append with later-sorting names, rows ordered
    * within a file). Shared by the batch scan's ordering and the stream's
    * file-granular offsets, both on the driver with the session's Hadoop
    * conf.
    */
  private def listFeedFiles(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    if (fs.getFileStatus(hp).isDirectory)
      fs.listStatus(hp).filter(_.isFile)
        .map(_.getPath)
        .filterNot(_.getName.startsWith("_"))
        .filterNot(_.getName.startsWith("."))
        .map(_.toString).sorted.toSeq
    else Seq(path)
  }

  /** The lines of the `fileIdx`-th file of [[listFeedFiles]], each with
    * its feed position `__seq = (fileIdx << 33) | lineNo` (`lineNo`
    * 0-based within the file): totally ordered in feed order, stable
    * across retries and restarts, and the same on the batch relation and
    * the stream, which both read through this. Scalar
    * `scan.startup.specific-offset.pos` keeps the rows with
    * `__seq >= pos`; on a single-file feed that is the 0-based line
    * number. A file whose suffix names a Hadoop compression codec
    * (`.gz`, `.bz2`, ...) is decompressed, as Spark's text source does.
    */
  private final class FeedLines(file: String, fileIdx: Int)
      extends Iterator[(String, Long)] with java.io.Closeable {
    private val in = {
      val hp = new org.apache.hadoop.fs.Path(file)
      val conf = new org.apache.hadoop.conf.Configuration()
      val raw = hp.getFileSystem(conf).open(hp)
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(hp)
      new java.io.BufferedReader(new java.io.InputStreamReader(
        if (codec == null) raw else codec.createInputStream(raw), "UTF-8"))
    }
    private var line = in.readLine()
    private var lineNo = 0L
    override def hasNext: Boolean = line != null
    override def next(): (String, Long) = {
      val out = (line, (fileIdx.toLong << 33) | lineNo)
      line = in.readLine()
      lineNo += 1
      out
    }
    override def close(): Unit = in.close()
  }

  private final case class FilesOffset(n: Int) extends Offset {
    override def json(): String = s"""{"files":$n}"""
  }

  /** `readStream.format("graft-cdc")` — the streaming face of the same
    * relation (the reference's table source IS a streaming scan,
    * ChangelogMode.all()). Offsets are file-granular over the name-sorted
    * feed directory (Spark's own FileStreamSource model): an offset is
    * the count of files consumed, so checkpoint resume replays from the
    * first unconsumed file. `__seq` is the batch relation's
    * (`FeedLines`).
    *
    * Startup modes: `initial`/`earliest-offset` read the whole feed;
    * `latest-offset` starts past the files present at query start;
    * `specific-offset.pos` skips rows below the given `__seq`;
    * `timestamp` skips rows whose event time (the batch relation's
    * [[WireFormat.eventTime]]) predates the cutoff.
    * Structured binlog coordinates need the batch relation's raw-JSON
    * predicates or [[graft.streaming.StreamingPipeline]].
    */
  private final class CdcMicroBatchStream(
      path: String,
      payload: StructType,
      options: CaseInsensitiveStringMap,
      hadoopConf: org.apache.hadoop.conf.Configuration)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
    import scala.jdk.CollectionConverters._

    // Trigger.AvailableNow pins the end of the feed at query start;
    // maxFilesPerTrigger paces batches below it (FileStreamSource's knobs)
    @volatile private var availableNowTarget: Option[Int] = None
    override def prepareForTriggerAvailableNow(): Unit =
      availableNowTarget = Some(listFeedFiles(path, hadoopConf).size)
    override def getDefaultReadLimit: ReadLimit =
      Option(options.get("maxFilesPerTrigger"))
        .map(n => ReadLimit.maxFiles(n.toInt)).getOrElse(ReadLimit.allAvailable())
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val ceiling = availableNowTarget.fold(listFeedFiles(path, hadoopConf).size)(
        math.min(listFeedFiles(path, hadoopConf).size, _))
      limit match {
        case mf: ReadMaxFiles =>
          FilesOffset(math.min(ceiling, start.asInstanceOf[FilesOffset].n + mf.maxFiles()))
        case _ => FilesOffset(ceiling)
      }
    }
    override def reportLatestOffset(): Offset = FilesOffset(listFeedFiles(path, hadoopConf).size)

    private val format = wireFormat(options)
    private val (startLatest, minSeq, minTs) =
      StartupMode.fromOptions(options.asCaseSensitiveMap().asScala.toMap) match {
        case StartupMode.Initial | StartupMode.Earliest =>
          (false, Long.MinValue, Long.MinValue)
        case StartupMode.Latest => (true, Long.MinValue, Long.MinValue)
        case StartupMode.SpecificOffset(pos) => (false, pos, Long.MinValue)
        case StartupMode.AtTimestamp(ts) =>
          eventTimeOf(format) // rejects formats without an event time
          (false, Long.MinValue, ts)
        case other => throw new IllegalArgumentException(
          s"graft-cdc stream does not support $other — structured binlog " +
            "resume needs the batch relation's raw-JSON predicates or " +
            "graft.streaming.StreamingPipeline")
      }

    override def initialOffset(): Offset =
      FilesOffset(if (startLatest) listFeedFiles(path, hadoopConf).size else 0)
    override def latestOffset(): Offset = FilesOffset(listFeedFiles(path, hadoopConf).size)
    override def deserializeOffset(json: String): Offset =
      FilesOffset("""\d+""".r.findFirstIn(json).getOrElse(
        throw new IllegalArgumentException(s"bad graft-cdc offset: $json")).toInt)

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[FilesOffset].n
      val e = end.asInstanceOf[FilesOffset].n
      val fs = listFeedFiles(path, hadoopConf)
      (s until math.min(e, fs.size))
        .map(i => CdcFilePartition(fs(i), i, minSeq, minTs): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new CdcReaderFactory(payload, format)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  private final case class CdcFilePartition(
      file: String, fileIdx: Int, minSeq: Long, minTs: Long) extends InputPartition

  /** One reader per feed file: parse each JSON line with the same
    * catalyst Jackson machinery `from_json` uses, then hand the envelope
    * to the format's [[WireFormat.RowDecoder]] — the row-level twin of the
    * batch relation's `decode` → `Changelog.explode` pipeline. Stream ==
    * batch parity is pinned by CdcTableProviderSpec for every format.
    */
  private final class CdcReaderFactory(payload: StructType, format: WireFormat)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.unsafe.types.UTF8String
      val fp = p.asInstanceOf[CdcFilePartition]
      new PartitionReader[InternalRow] {
        private val decoder = format.rowDecoder(payload)
        private val parser = new org.apache.spark.sql.graft.JsonLineParser(decoder.schema)
        private val lines = new FeedLines(fp.file, fp.fileIdx)
        private val pending = scala.collection.mutable.Queue.empty[InternalRow]

        private val out: (String, InternalRow, Long) => Unit = (tag, image, seq) => {
          val row = new GenericInternalRow(payload.length + 2)
          var i = 0
          while (i < payload.length) {
            row.update(i,
              if (image.isNullAt(i)) null else image.get(i, payload(i).dataType))
            i += 1
          }
          row.update(payload.length, UTF8String.fromString(tag))
          row.update(payload.length + 1, seq)
          pending += row
        }

        override def next(): Boolean = {
          while (pending.isEmpty) {
            if (!lines.hasNext) return false
            val (line, seq) = lines.next()
            if (seq >= fp.minSeq)
              parser.parse(line).foreach(decoder.emit(_, seq, fp.minTs, out))
          }
          true
        }
        override def get(): InternalRow = pending.dequeue()
        override def close(): Unit = lines.close()
      }
    }
  }
}
