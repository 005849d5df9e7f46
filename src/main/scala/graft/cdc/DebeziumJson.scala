package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-JSON envelope codec: `{"before":{...},"after":{...},"op":"c|r|u|d",
  * "ts_ms":...,"source":{"db":...,"table":...}}` — the wire format the
  * reference consumes from Debezium (RowDataDebeziumDeserializeSchema.java:63)
  * and emits via its Kafka sink (debezium-json format).
  *
  * Decoding is `from_json` into the paired changelog encoding — fully
  * distributed and codegen-friendly; one JSON parse per record.
  */
object DebeziumJson {

  def envelopeSchema(payload: StructType): StructType = StructType(Seq(
    StructField("before", payload),
    StructField("after", payload),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("source", StructType(Seq(
      StructField("db", StringType),
      StructField("schema", StringType),
      StructField("table", StringType))))))

  /** Decode a DataFrame with a JSON string column into the paired
    * changelog frame. `seq` orders events (offset within the feed).
    *
    *  - `schemaEnvelope = true` additionally accepts Connect
    *    schema-wrapped records (`{"schema":...,"payload":{...}}` — a
    *    topic produced with `schemas.enable=true`, or this library's own
    *    `debezium-json.include-schema.enabled` output); flat records on
    *    the same topic still decode — the schema block is skipped, never
    *    interpreted. ONE `from_json` either way: the parse schema simply
    *    carries both the flat fields and a `payload` wrapper, and each
    *    field coalesces across the two positions.
    *  - `connectWire = true` reads temporal payloads in Debezium's
    *    Connect wire forms — epoch int64 (Micro)Timestamp/MicroTime,
    *    epoch-day int32 Date, ISO-8601 ZonedTimestamp strings — and
    *    projects them back to the graft encodings
    *    ([[ConnectSchemaJson.fromWire]]). This is what a REAL Debezium
    *    feed carries (its converters emit epoch ints with or without
    *    the schema block); the default `false` keeps the stringified
    *    convention [[encode]] produces.
    */
  def decode(json: DataFrame, jsonCol: String, payload: StructType,
      seqCol: Option[String] = None, connectWire: Boolean = false,
      schemaEnvelope: Boolean = false): DataFrame = {
    val env = json.withColumn("__env",
      from_json(col(jsonCol), parseSchema(payload, connectWire, schemaEnvelope)))
    def top(n: String): org.apache.spark.sql.Column =
      if (schemaEnvelope) coalesce(col(s"__env.payload.$n"), col(s"__env.$n"))
      else col(s"__env.$n")
    def side(n: String): org.apache.spark.sql.Column =
      if (connectWire) ConnectSchemaJson.unwireSide(top(n), payload) else top(n)
    val seq = seqCol.map(col).getOrElse(monotonically_increasing_id())
    env.select(
      when(top("op").isin("c", "r"), "I")
        .when(top("op") === "u", "U")
        .when(top("op") === "d", "D")
        .otherwise("R").as(Changelog.OpCol),
      side("before").as(Changelog.BeforeCol),
      side("after").as(Changelog.AfterCol),
      seq.cast(LongType).as(Changelog.SeqCol),
      // source metadata: the envelope's ts_ms surfaces as op_ts (the
      // reference's `metadata.list: op_ts` mechanism)
      when(top("ts_ms").isNotNull,
        map(lit("op_ts"), top("ts_ms").cast(StringType)))
        .as(Changelog.MetaCol))
  }

  /** The `from_json` parse schema for a consume configuration — the one
    * [[decode]] parses with (DecodeProfile probes it too): wire-typed
    * payload sides under `connectWire`, and a
    * `payload` envelope wrapper alongside the flat fields under
    * `schemaEnvelope` (so flat and schema-wrapped records coexist on one
    * topic; each position coalesces).
    */
  def parseSchema(payload: StructType, connectWire: Boolean,
      schemaEnvelope: Boolean): StructType = {
    val parsePayload =
      if (connectWire)
        ConnectSchemaJson.wireType(payload, Metadata.empty).asInstanceOf[StructType]
      else payload
    val base = envelopeSchema(parsePayload)
    if (schemaEnvelope) StructType(base.fields :+ StructField("payload", base))
    else base
  }

  /** Encode a paired changelog frame back into debezium-JSON strings.
    * `passthrough` columns (e.g. `__seq` as the future Kafka offset) ride
    * alongside the JSON value.
    *
    * `referenceWire = true` emits byte-exactly what the reference Kafka
    * sink serializes (DebeziumJsonSerializationSchema payload, goldens
    * expectedEvents/mysqlToKafka/debezium-json.txt): before/after/op/
    * source only — no ts_ms — with nulls rendered explicitly, and
    * REPLACE riding as "u" (convertUpdateEventToRowData serves UPDATE
    * and REPLACE alike). The default keeps the graft extension: a ts_ms
    * field that decode surfaces as op_ts source metadata.
    */
  def encode(paired: DataFrame, db: String, table: String,
      passthrough: Seq[String] = Nil, referenceWire: Boolean = false): DataFrame = {
    val op = col(Changelog.OpCol)
    val source = struct(lit(db).as("db"), lit(table).as("table")).as("source")
    val body =
      if (referenceWire) to_json(struct(
        col(Changelog.BeforeCol).as("before"),
        col(Changelog.AfterCol).as("after"),
        when(op === "I", "c").when(op === "D", "d").otherwise("u").as("op"),
        source), Map("ignoreNullFields" -> "false"))
      else to_json(struct(
        col(Changelog.BeforeCol).as("before"),
        col(Changelog.AfterCol).as("after"),
        when(op === "I", "c").when(op === "U", "u")
          .when(op === "D", "d").otherwise("r").as("op"),
        (unix_timestamp(current_timestamp()) * 1000).as("ts_ms"),
        source))
    paired.select(body.as("value") +: passthrough.map(col): _*)
  }

  /** Encode with the Connect schema block inline:
    * `{"schema":{...},"payload":{"before":...,"after":...,"op":...,
    * "source":{...}}}` — the reference Kafka sink's
    * `debezium-json.include-schema.enabled: true` output
    * (DebeziumJsonSerializationSchema.java under isIncludedDebeziumSchema;
    * goldens expectedEvents/mysqlToKafka/debezium-json-with-schema.txt).
    * The payload mirrors the reference serializer exactly:
    * before/after/op/source only (no ts_ms), nulls rendered explicitly,
    * REPLACE rides as "u" (convertUpdateEventToRowData serves UPDATE and
    * REPLACE alike). Columns whose stored Spark form differs from the
    * Connect wire form the schema block declares (TIME, TIMESTAMP,
    * TIMESTAMP_TZ, TIMESTAMP_LTZ, DATE) project to the declared form
    * first — [[ConnectSchemaJson.wireForm]] — so a schema-aware consumer
    * reads the payload it is told to expect. The schema block is a
    * per-table driver-side constant concatenated as a literal — zero
    * per-row schema work.
    */
  def encodeWithSchema(paired: DataFrame, db: String, table: String,
      info: graft.model.TableInfo, passthrough: Seq[String] = Nil): DataFrame = {
    val schemaJson = ConnectSchemaJson.debeziumEnvelopeSchema(info)
    val op = col(Changelog.OpCol)
    val payload = to_json(struct(
      ConnectSchemaJson.wireSide(col(Changelog.BeforeCol), info.schema).as("before"),
      ConnectSchemaJson.wireSide(col(Changelog.AfterCol), info.schema).as("after"),
      when(op === "I", "c").when(op === "D", "d").otherwise("u").as("op"),
      struct(lit(db).as("db"), lit(table).as("table")).as("source")),
      Map("ignoreNullFields" -> "false"))
    paired.select(
      concat(lit("{\"schema\":" + schemaJson + ",\"payload\":"),
        payload, lit("}")).as("value") +: passthrough.map(col): _*)
  }
}
