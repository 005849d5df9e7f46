package graft.tools

import graft.Sessions
import graft.cdc.{DdlParser, WireFormat}
import graft.model.{CreateTableEvent, TableId}
import graft.pipeline._
import graft.sinks._
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession

/** Pipeline-file frontend — the `flink-cdc.sh` analog
  * (flink-cdc-cli/.../CliFrontend.java:65): takes a pipeline YAML path,
  * builds the declared source and sink, and runs the pipeline to
  * completion (AvailableNow semantics: process everything present, then
  * stop). A user runs a pipeline file end to end without writing Scala:
  *
  * {{{
  * sbt "runMain graft.tools.Cli /path/to/pipeline.yaml"
  * }}}
  *
  * Source types — a file topic of one [[WireFormat]] each:
  *  - `debezium-file`: debezium-JSON lines (data + DDL envelopes);
  *    `debezium-json.schema-include` and
  *    `debezium-json.connect-wire.enabled` apply here only;
  *  - `canal-file`: canal-JSON lines (multi-row messages, `isDdl`
  *    envelopes);
  *  - `mongo-file`: MongoDB change-stream documents (no DDL channel).
  *
  * All three read `path`; `table` names the pipeline table id and
  * `schema.ddl` declares the initial schema as a CREATE TABLE statement
  * (CDC JSON carries no types — the reference reads the same from the
  * database's history), or `tables: db.a, db.b` names several tables on
  * one topic with `schema.ddl.<table>` each; `order.*` sets the log order
  * and optional `checkpoint` resumes from prior state.
  *
  * Sink types: `values` (materialized rows print to stdout — the test
  * sink), `parquet` (lakehouse MERGE sink at `path`), `kafka`
  * (file-backed topic log at `path`), `jdbc` (`url` + `dialect`).
  */
object Cli {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Cli <pipeline.yaml>")
    val yaml = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(0))), "UTF-8")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Sessions.tuned(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, yaml).foreach(println)
    finally spark.stop()
  }

  /** Run a pipeline definition to completion; returns a summary line per
    * sink table (and the materialized rows for the values sink).
    */
  def run(spark: SparkSession, yaml: String): Seq[String] = {
    val pd = YamlPipelineParser.parse(yaml)
    val kind = pd.source.kind
    val format = kind match {
      case "debezium-file" | "canal-file" | "mongo-file" =>
        WireFormat.parse(Some(kind.stripSuffix("-file") + "-json"), pd.source.options)
      case other => throw new IllegalArgumentException(
        s"source.type $other is not runnable from the CLI " +
          "(values is programmatic; DB connectors need live transports)")
    }
    val (sink, report) = buildSink(spark, pd)
    val path = pd.source.options.getOrElse("path",
      throw new IllegalArgumentException(s"source.path is required for $kind"))
    def schemaOf(tid: TableId, key: String) = {
      val ddl = pd.source.options.getOrElse(key,
        throw new IllegalArgumentException(
          s"source.$key (CREATE TABLE ...) is required for $kind"))
      DdlParser.parse(ddl, tid) match {
        case Seq(CreateTableEvent(_, i)) => i
        case other => throw new IllegalArgumentException(
          s"$key must be a single CREATE TABLE statement, parsed: $other")
      }
    }
    val sp = new StreamingPipeline(spark, pd, sink)
    // Deterministic log order by DEFAULT: a file topic carries a
    // natural stable order (segment number from the file name + line
    // index within the file), so __seq is a pure projection and the
    // fast path's mono-id order-stability assumption never applies.
    // `order.expr` overrides with a source-field expression over the
    // raw `value` (e.g. a binlog position); `order.mode: none` drops
    // to the legacy unordered stream (un-numbered file names).
    // MIGRATION (r17): the default changed from unordered to `file`.
    // Configs whose file names carry no usable segment number now
    // fail at startup (loudly, with a remedy), and the wholetext
    // read holds one whole segment per task — pre-r17 deployments
    // that relied on the unordered stream must set
    // `order.mode: none` explicitly (or fix their segment naming).
    val orderExpr = pd.source.options.get("order.expr")
    val orderMode = pd.source.options.getOrElse("order.mode",
      if (orderExpr.isDefined) "expr" else "file")
    val (stream, order) = orderMode match {
      case "none" =>
        (StreamingPipeline.fileJsonStream(spark, path), None)
      case "expr" =>
        (StreamingPipeline.fileJsonStream(spark, path),
          Some(org.apache.spark.sql.functions.expr(orderExpr.getOrElse(
            throw new IllegalArgumentException(
              "order.mode=expr requires order.expr")))))
      case "file" =>
        val seqRegex = pd.source.options.getOrElse("order.file.regex",
          StreamingPipeline.FileSeqRegex)
        // fail at CONFIG time with a remedy, not mid-stream: every
        // file numbered (< 2^21), numbers unique, segments
        // wholetext-sized (bound overridable for large-heap
        // deployments via order.file.max-bytes)
        StreamingPipeline.validateFileTopicOrder(path, seqRegex,
          maxFileBytes = pd.source.options.get("order.file.max-bytes")
            .map(_.toLong).getOrElse(512L << 20),
          // the session's Hadoop conf so remote topics (hdfs://,
          // s3a://) resolve with the user's filesystem settings
          hadoopConf = spark.sessionState.newHadoopConf())
        (StreamingPipeline.fileJsonStreamOrdered(spark, path,
            seqRegex = seqRegex),
          Some(org.apache.spark.sql.functions.col(
            StreamingPipeline.FileOrderCol)))
      case other => throw new IllegalArgumentException(
        s"order.mode must be file|expr|none: $other")
    }
    val checkpoint = pd.source.options.get("checkpoint")
    // `tables: db.a, db.b` (one topic, many tables — per-table
    // schemas under schema.ddl.<table>) or single `table:` + schema.ddl
    val tables = pd.source.options.get("tables") match {
      case Some(list) =>
        list.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
          val tid = TableId.parse(t)
          // full-id key first (db1.users and db2.users must not share
          // one schema), bare table name as a back-compat fallback
          val fullKey = s"schema.ddl.${tid.identifier}"
          val key = if (pd.source.options.contains(fullKey)) fullKey
                    else s"schema.ddl.${tid.table}"
          tid -> schemaOf(tid, key)
        }
      case None =>
        val tid = TableId.parse(pd.source.options.getOrElse("table",
          throw new IllegalArgumentException(
            s"source.table (or source.tables) is required for $kind")))
        Seq(tid -> schemaOf(tid, "schema.ddl"))
    }
    sp.start(stream, format, tables, checkpointLocation = checkpoint, order = order)
      .awaitTermination()
    s"pipeline '${pd.name}': processed $path into ${pd.sink.kind} sink" +: report()
  }

  private def buildSink(spark: SparkSession, pd: PipelineDef): (DataSink, () => Seq[String]) =
    pd.sink.kind match {
      case "values" =>
        val v = new ValuesDatabase
        (v, () => v.tableIds.flatMap(v.results))
      case "parquet" =>
        val path = pd.sink.options.getOrElse("path",
          throw new IllegalArgumentException("sink.path is required for parquet"))
        def opt[T](key: String, expected: String)(parse: String => Option[T]): Option[T] =
          pd.sink.options.get(key).map(v => parse(v.trim).getOrElse(
            throw new IllegalArgumentException(s"sink.$key must be $expected: $v")))
        val p = new ParquetUpsertSink(spark, path,
          numBuckets = opt("buckets", "an integer of at least 1")(
            _.toIntOption.filter(_ >= 1)).getOrElse(16),
          mergeOnRead = opt("merge-on-read", "true or false")(
            _.toBooleanOption).getOrElse(false))
        (p, () => Seq(s"parquet tables under $path"))
      case "kafka" =>
        val path = pd.sink.options.getOrElse("path",
          throw new IllegalArgumentException("sink.path is required for kafka (file-backed)"))
        val k = new KafkaSink(new FileTopicWriter(spark, path), pd.sink.options)
        (k, () => Seq(s"topic segments under $path"))
      case "delta" | "iceberg" =>
        // needs the format jar + catalog config on the cluster; the sink
        // itself only issues SQL (CREATE/ALTER/MERGE INTO)
        val dialect = if (pd.sink.kind == "delta") DeltaDialect else IcebergDialect
        (new LakehouseMergeSink(spark, dialect),
          () => Seq(s"${pd.sink.kind} catalog tables (MERGE INTO)"))
      case "jdbc" =>
        val url = pd.sink.options.getOrElse("url",
          throw new IllegalArgumentException("sink.url is required for jdbc"))
        val props = new java.util.Properties()
        pd.sink.options.foreach { case (k, v) =>
          if (k.startsWith("jdbc.properties.")) props.put(k.stripPrefix("jdbc.properties."), v)
        }
        val dialect = pd.sink.options.get("dialect").map(_.toLowerCase) match {
          case Some("postgres") | Some("postgresql") => PostgresDialect
          case _ => MySqlDialect
        }
        (new JdbcUpsertSink(url, props, dialect), () => Seq(s"jdbc tables at $url"))
      case dialectSink if SinkMetadataDialects.all.contains(dialectSink) =>
        // OLAP/lakehouse sinks whose live transports (stream-load HTTP,
        // tunnel uploads, catalog clients) this environment lacks: the
        // MetadataApplier dialect generates and records real DDL; data
        // batches materialize through the values inner sink.
        // NOTE: `iceberg` never reaches here — the earlier case routes it
        // to LakehouseMergeSink (the MERGE data path, which subsumes the
        // metadata dialect when a real catalog is configured); this branch
        // serves the other eight dialect sinks.
        val dialect = dialectSink match {
          case "starrocks" => SinkMetadataDialects.StarRocksDialect(
            pd.sink.options.get("unicode-char.max-bytes").map(_.toInt).getOrElse(3))
          case "maxcompute" => SinkMetadataDialects.MaxComputeDialect(
            pd.sink.options.getOrElse("project", "default_project"))
          case "fluss" => SinkMetadataDialects.FlussDialect(
            tableBucketKeys = graft.sinks.FlussConfig
              .parseBucketKeys(pd.sink.options.getOrElse("bucket.key", "")),
            tableBucketNums = graft.sinks.FlussConfig
              .parseBucketNumber(pd.sink.options.getOrElse("bucket.num", "")))
          case "hudi" => SinkMetadataDialects.HudiDialect(
            pd.sink.options.getOrElse("table.type", "MERGE_ON_READ"),
            pd.sink.options.get("ordering.fields"))
          case other => SinkMetadataDialects.all(other)
        }
        val v = new ValuesDatabase
        val s = new DialectMetadataSink(dialect, inner = v)
        (s, () => s.statements ++ v.tableIds.flatMap(v.results))
      case other => throw new IllegalArgumentException(s"unsupported sink.type: $other")
    }
}
