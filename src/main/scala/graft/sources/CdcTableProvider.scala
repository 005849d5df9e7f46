package graft.sources

import graft.cdc.{Changelog, DdlParser, WireFormat}
import graft.model.{CreateTableEvent, TableId}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{Offset => StreamOffset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, StreamSourceProvider, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

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
  * One plan serves both faces: the batch scan (a DataSourceV2 table read
  * through the `V1Scan` bridge) and each `spark.readStream` micro-batch
  * (the provider's V1 `StreamSourceProvider` face, [[CdcTableProvider.CdcSource]]:
  * file-granular offsets, checkpoint resume, `maxFilesPerTrigger`,
  * AvailableNow) run [[CdcTableProvider.changelog]] — the same
  * declarative `WireFormat.decode` → `Changelog.explode` projection
  * every other front end uses, one codegen'd JSON parse per record — over
  * all files or over the batch's range of files. So a stream's rows are
  * the batch relation's rows on every prefix of the feed (Structured
  * Streaming's prefix consistency), startup filters included, and
  * Catalyst still prunes/pushes over the resulting plan. Pipelines
  * needing wire DDL and schema planes belong to
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
  *  - `initial`/`earliest-offset` read everything; `latest-offset`
  *    starts the stream past the files present at query start and is
  *    rejected by the batch relation, as `snapshot` is by both faces.
  */
final class CdcTableProvider extends TableProvider with StreamSourceProvider
    with DataSourceRegister {
  import scala.jdk.CollectionConverters._

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

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      schema.getOrElse(inferSchema(new CaseInsensitiveStringMap(parameters.asJava))))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    val payload = CdcTableProvider.payloadSchema(options)
    new CdcTableProvider.CdcSource(sqlContext.sparkSession,
      CdcTableProvider.feedPath(options), payload,
      schema.getOrElse(CdcTableProvider.explodedSchema(payload)), options)
  }
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

  /** Apply `scan.startup.*` as a predicate over the raw (value, __seq)
    * frame, before any decode — codegen'd JSON-path probes, no extra
    * pass. See the provider scaladoc for the mode x coordinate
    * matrix; on the stream, `latest-offset` is the source's initial
    * offset and filters nothing here.
    */
  private def startupFiltered(json: DataFrame, options: CaseInsensitiveStringMap,
      isStreaming: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val opts = options.asCaseSensitiveMap().asScala.toMap
    val format = wireFormat(options)
    StartupMode.fromOptions(opts) match {
      case StartupMode.Initial | StartupMode.Earliest => json
      case StartupMode.Latest if isStreaming => json
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
      case StartupMode.AtTimestamp(ts) =>
        json.where(format.eventTime(col("value")).getOrElse(
          throw new IllegalArgumentException(s"${format.name} envelopes carry no event " +
            "timestamp this codec decodes; use scalar pos startup")) >= ts)
      case other if isStreaming => throw new IllegalArgumentException(
        s"graft-cdc stream does not support scan.startup.mode for $other " +
          "(a snapshot phase belongs to graft.streaming.StreamingPipeline)")
      case other => throw new IllegalArgumentException(
        s"graft-cdc batch relation does not support scan.startup.mode for $other " +
          "(snapshot/latest-offset are stream concepts)")
    }
  }

  private def feedPath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-cdc needs a path option"))

  /** The exploded changelog of the given `(file, fileIdx)` feed files —
    * the one plan both faces run: the batch relation over every file, a
    * stream micro-batch (`isStreaming`) over its range of files. Lines
    * (one partition per file, numbered by [[FeedLines]]) go through
    * [[startupFiltered]], then the declarative `WireFormat.decode` →
    * `Changelog.explode` projection every other front end uses; one seq
    * per line, shared by an update's -U/+U pair (they explode from one
    * envelope).
    */
  private def changelog(session: SparkSession, files: Seq[(String, Int)],
      payload: StructType, options: CaseInsensitiveStringMap,
      isStreaming: Boolean): DataFrame = {
    val lines = session.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { case (file, fileIdx) =>
        val ls = new FeedLines(file, fileIdx)
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => ls.close())
        ls.map { case (line, seq) => InternalRow(UTF8String.fromString(line), seq) }
      }
    val json = SparkInternals.internalCreateDataFrame(session, lines, StructType(Seq(
      StructField("value", StringType),
      StructField(Changelog.SeqCol, LongType, nullable = false))), isStreaming)
    val paired = wireFormat(options)
      .decode(startupFiltered(json, options, isStreaming), payload, Some(Changelog.SeqCol))
      .drop(Changelog.MetaCol)
    Changelog.explode(paired)
  }

  private final class CdcTable(
      tableSchema: StructType,
      options: CaseInsensitiveStringMap) extends Table with SupportsRead {

    override def name(): String =
      s"graft-cdc(${Option(options.get("path")).getOrElse("?")})"
    override def schema(): StructType = tableSchema
    // no MICRO_BATCH_READ: readStream falls back to the provider's V1
    // StreamSourceProvider face
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder = {
      val path = feedPath(options)
      val payload = payloadSchema(options)
      new ScanBuilder {
        override def build(): Scan = new V1Scan {
          override def readSchema(): StructType = tableSchema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = tableSchema
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                val session = context.sparkSession
                val files = listFeedFiles(path, session.sessionState.newHadoopConf())
                changelog(session, files.zipWithIndex, payload, options,
                  isStreaming = false).rdd
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
    * first unconsumed file. Each micro-batch is the batch relation's plan
    * ([[changelog]]) over its range of files, so the stream's rows are
    * the batch relation's rows on every prefix of the feed, startup
    * filters included; `latest-offset` only moves the initial offset past
    * the files present at query start.
    */
  private final class CdcSource(
      session: SparkSession,
      path: String,
      payload: StructType,
      override val schema: StructType,
      options: CaseInsensitiveStringMap)
    extends Source with SupportsTriggerAvailableNow {
    import scala.jdk.CollectionConverters._

    private def feedFiles = listFeedFiles(path, session.sessionState.newHadoopConf())

    // an unsupported scan.startup.* combination fails the query at start,
    // not at the first batch with files: the plan over no files runs the
    // same startupFiltered match and no Spark job
    changelog(session, Nil, payload, options, isStreaming = true)

    // maxFilesPerTrigger paces batches (FileStreamSource's knob)
    private val maxFiles = Option(options.get("maxFilesPerTrigger")).map(v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"graft-cdc maxFilesPerTrigger must be a positive integer, got: $v")))

    private val initial =
      if (StartupMode.fromOptions(options.asCaseSensitiveMap().asScala.toMap) ==
          StartupMode.Latest) feedFiles.size
      else 0

    // null before the first batch; offsets read back from a checkpoint
    // arrive as SerializedOffset, so every offset is read from its json
    private def filesIn(o: StreamOffset): Int =
      if (o == null) initial
      else """\d+""".r.findFirstIn(o.json).getOrElse(
        throw new IllegalArgumentException(s"bad graft-cdc offset: ${o.json}")).toInt

    // Trigger.AvailableNow pins the end of the feed at query start
    @volatile private var availableNowTarget: Option[Int] = None
    // feed size at the last latestOffset, reported as the latest offset
    @volatile private var listed = 0
    override def prepareForTriggerAvailableNow(): Unit =
      availableNowTarget = Some(feedFiles.size)
    override def getDefaultReadLimit: ReadLimit =
      maxFiles.fold(ReadLimit.allAvailable())(ReadLimit.maxFiles)
    override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
      listed = feedFiles.size
      val from = filesIn(start)
      val ceiling = availableNowTarget.fold(listed)(math.min(listed, _))
      val end = limit match {
        case mf: ReadMaxFiles => math.min(ceiling, from + mf.maxFiles())
        case _ => ceiling
      }
      if (end > from) FilesOffset(end) else start // null: no new data
    }
    override def reportLatestOffset(): StreamOffset =
      FilesOffset(listed)
    override def getOffset: Option[Offset] = throw new UnsupportedOperationException(
      "graft-cdc admits files through latestOffset(start, limit)")

    override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
      val from = start.fold(initial)(filesIn)
      changelog(session, feedFiles.zipWithIndex.slice(from, filesIn(end)),
        payload, options, isStreaming = true)
    }
    override def stop(): Unit = ()
  }
}
