package graft.sinks

import graft.cdc.{CanalJson, Changelog, DebeziumJson, WireFormat}
import graft.model.{SchemaChangeEvent, TableId, TableInfo}
import graft.route.Selectors
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Where encoded records go. The environment has no Kafka broker, so the
  * producer is a trait: a real deployment swaps in a writer that does
  * `records.write.format("kafka").option("kafka.bootstrap.servers", ...)`
  * (the Spark Kafka sink consumes exactly this topic/key/value/headers
  * column contract); tests and this environment use [[FileTopicWriter]],
  * which appends each topic's records to a directory of parquet segment
  * files — same distributed write path, different transport.
  */
trait KafkaRecordWriter {
  /** `records` columns: topic STRING, key STRING, value STRING,
    * headers MAP<STRING,STRING>, offset LONG. Must append (a topic is a
    * log). A real Kafka writer drops `offset` (the broker assigns its
    * own); the file shim persists it.
    */
  def produce(records: DataFrame): Unit
}

/** File-backed stand-in topic: `<dir>/<topic>/` accumulates parquet
  * segments; [[FileTopicWriter.read]] returns a topic's records in
  * produced order (per-partition order is what real Kafka guarantees;
  * the `__segment` column stands in for the partition offset).
  */
final class FileTopicWriter(spark: org.apache.spark.sql.SparkSession, dir: String)
    extends KafkaRecordWriter {
  private var segment = 0

  override def produce(records: DataFrame): Unit = synchronized {
    val seg = segment; segment += 1
    records.withColumn("__segment", lit(seg))
      .write.mode(SaveMode.Append).partitionBy("topic")
      .parquet(dir)
  }

  def read(topic: String): DataFrame =
    spark.read.parquet(dir).where(col("topic") === topic)
}

/** Kafka-shaped changelog sink, after the reference's pipeline Kafka
  * connector (KafkaDataSink.java, KafkaDataSinkOptions.java:38-105,
  * PipelineKafkaRecordSerializationSchema.java):
  *
  *  - `value.format`: debezium-json (default) or canal-json — the two
  *    formats of ChangeLogJsonFormatFactory;
  *  - `key.format` json/csv: the table identifier + primary-key image
  *    (KeySerializationFactory's two serializers — JSON
  *    `{"TableId":...,pk...}`, CSV a Jackson-quoted line). Under
  *    PartitionStrategy.HASH_BY_KEY the key also partitions records so
  *    a key's changes stay in one partition;
  *    `partition.strategy=all-to-zero` sends everything to partition 0
  *    instead (global order, no parallelism);
  *  - topic routing: `sink.tableId-to-topic.mapping` is a
  *    `selector:topic;selector:topic` list resolved left to right
  *    (KafkaSinkUtils.parseSelectorsToTopicMap), falling back to the
  *    `topic` option, falling back to the table identifier;
  *  - `sink.add-tableId-to-header-enabled` + `sink.custom-header` emit
  *    record headers.
  *
  * Schema-change events need no topic write: debezium/canal JSON carries
  * field names per record, so consumers absorb evolution record by record
  * (the reference's KafkaMetaDataApplier likewise only logs).
  */
final class KafkaSink(
    writer: KafkaRecordWriter,
    options: Map[String, String] = Map.empty) extends DataSink {

  private val valueFormat = WireFormat.parse(options.get("value.format"), Map.empty)
  require(valueFormat != WireFormat.Mongo, s"unsupported value.format: ${valueFormat.name}")
  /** KafkaDataSinkOptions.java:105 `debezium-json.include-schema.enabled`:
    * wrap each record as {"schema":...,"payload":...} with the Connect
    * schema block (debezium-json format only).
    */
  private val includeSchema =
    options.get("debezium-json.include-schema.enabled").exists(_.toBoolean)
  require(!includeSchema || valueFormat.isInstanceOf[WireFormat.Debezium],
    "debezium-json.include-schema.enabled requires value.format=debezium-json")
  private val partitionStrategy = options.getOrElse("partition.strategy", "all-to-zero")
  require(Seq("all-to-zero", "hash-by-key").contains(partitionStrategy),
    s"unsupported partition.strategy: $partitionStrategy")
  /** KafkaDataSinkOptions.java:38 `sink.delivery-guarantee` — accepted and
    * validated for option-surface parity (Kafka DeliveryGuarantee values).
    * The file-backed shim appends segments without a transaction log, so
    * its behavior is at-least-once regardless; exactly-once is honored by
    * a real transactional Kafka writer behind [[KafkaRecordWriter]].
    */
  private val deliveryGuarantee =
    options.getOrElse("sink.delivery-guarantee", "at-least-once")
  require(Seq("at-least-once", "exactly-once", "none").contains(deliveryGuarantee),
    s"unsupported sink.delivery-guarantee: $deliveryGuarantee")
  /** KafkaDataSinkOptions.java:52 `key.format`: json (default) or csv —
    * KeySerializationFactory's two serializers. Both render the table
    * identifier first, then the primary-key image (after; before for
    * deletes): JSON as `{"TableId":"db.t","pk":...}`
    * (JsonSerializationSchema.java:128-133), CSV as a Jackson-CSV line
    * (CsvSerializationSchema.java:105-116).
    */
  private val keyFormat = options.getOrElse("key.format", "json")
  require(Seq("json", "csv").contains(keyFormat),
    s"unsupported key.format: $keyFormat")
  private val addTableIdHeader =
    options.get("sink.add-tableId-to-header-enabled").exists(_.toBoolean)
  private val customHeaders: Seq[(String, String)] =
    options.get("sink.custom-header").toSeq.flatMap(_.split(",")).flatMap { kv =>
      kv.split("[:=]", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _ => None
      }
    }

  /** `selector:topic;...` parsed once, matched per table with the same
    * memoised Selectors the router uses.
    */
  private val topicMapping: Seq[(Selectors, String)] =
    options.get("sink.tableId-to-topic.mapping").toSeq
      .flatMap(_.split(";")).flatMap { m =>
        m.split(":", 2) match {
          case Array(sel, topic) if sel.nonEmpty && topic.nonEmpty =>
            Some(Selectors.includeTables(sel) -> topic)
          case _ => None
        }
      }

  def topicFor(tableId: TableId): String =
    topicMapping.collectFirst { case (sel, t) if sel.isMatch(tableId) => t }
      .orElse(options.get("topic"))
      .getOrElse(tableId.identifier)

  override def applySchemaChange(e: SchemaChangeEvent): Unit = ()

  /** One CSV cell under Jackson-CSV's default quoting (what the
    * reference's CsvRowDataSerializationSchema emits, pinned by its
    * CsvSerializationSchemaTest): quote when the value contains the
    * separator / quote char / CR / LF — or is longer than Jackson's
    * 24-char quote-check window, which is why a table identifier rides
    * quoted while a short pk value does not; quotes escape by doubling.
    */
  private def csvCell(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = c.cast(org.apache.spark.sql.types.StringType)
    when(s.isNull, "").otherwise(
      when(length(s) > 24 || s.contains(",") || s.contains("\"") ||
          s.contains("\n") || s.contains("\r"),
        concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\"")))
        .otherwise(s))
  }

  override def write(tableId: TableId, exploded: DataFrame, info: TableInfo): Unit = {
    val payload = info.schema.fieldNames.toSeq
    // the record key serializes for BOTH partition strategies (the
    // reference's key serializer is independent of the partitioner);
    // hash-by-key additionally partitions by it so a key's changes stay
    // in one partition. The pk image is after's (before's for deletes —
    // the coalesce, since a delete's after is entirely null).
    val pks = info.primaryKeys
    require(pks.nonEmpty || partitionStrategy != "hash-by-key",
      s"hash-by-key needs primary keys on $tableId")
    val pkCols = pks.map(k =>
      coalesce(col(s"${Changelog.AfterCol}.$k"), col(s"${Changelog.BeforeCol}.$k")).as(k))
    val keyExpr = keyFormat match {
      case "csv" =>
        concat_ws(",", (csvCell(lit(tableId.identifier)) +: pks.map(k =>
          csvCell(coalesce(col(s"${Changelog.AfterCol}.$k"),
            col(s"${Changelog.BeforeCol}.$k"))))): _*)
      case _ =>
        to_json(struct(lit(tableId.identifier).as("TableId") +: pkCols: _*))
    }
    val paired = Changelog.pair(exploded, payload).withColumn("__key", keyExpr)
    val db = tableId.namespace.orElse(tableId.schemaName).getOrElse("")
    val valued = valueFormat match {
      case WireFormat.Canal =>
        CanalJson.encode(paired, db, tableId.table, info.primaryKeys,
          passthrough = Seq(Changelog.SeqCol, "__key"), referenceWire = true)
      case _ if includeSchema =>
        DebeziumJson.encodeWithSchema(paired, db, tableId.table, info,
          passthrough = Seq(Changelog.SeqCol, "__key"))
      case _ =>
        DebeziumJson.encode(paired, db, tableId.table,
          passthrough = Seq(Changelog.SeqCol, "__key"), referenceWire = true)
    }
    val headers = customHeaders ++
      (if (addTableIdHeader) Seq("tableId" -> tableId.identifier) else Nil)
    val headerCol =
      if (headers.isEmpty) typedLit(Map.empty[String, String])
      else map(headers.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    // Ordering matches what real Kafka can actually promise: per-partition
    // only. hash-by-key co-locates each key's changes in one task
    // (repartition on the key) and orders within the task — no global sort,
    // no range exchange, fully parallel at any scale. all-to-zero is
    // inherently serial (everything on partition 0), so a single ordered
    // partition is the honest plan there.
    val ordered = partitionStrategy match {
      case "hash-by-key" =>
        valued.repartition(col("__key")).sortWithinPartitions(col(Changelog.SeqCol))
      case _ =>
        valued.repartition(1).sortWithinPartitions(col(Changelog.SeqCol))
    }
    // `offset` carries the changelog sequence explicitly — the stand-in
    // for the per-partition offset a real broker would assign (a kafka
    // writer drops it; the file shim persists it so consumers can order)
    writer.produce(ordered
      .select(
        lit(topicFor(tableId)).as("topic"),
        col("__key").as("key"),
        col("value"),
        headerCol.as("headers"),
        col(Changelog.SeqCol).as("offset")))
  }
}
