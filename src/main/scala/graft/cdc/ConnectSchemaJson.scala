package graft.cdc

import graft.model.TableInfo
import graft.sources.CdcTemporal
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka-Connect JSON schema rendering for the Debezium change envelope —
  * the `"schema"` block a consumer sees when the Kafka sink runs with
  * `debezium-json.include-schema.enabled: true`.
  *
  * Ported semantics (reference
  * flink-cdc-pipeline-connector-kafka/.../json/debezium/
  * DebeziumJsonSerializationSchema.java:244-424):
  *  - the envelope schema is a struct of two optional structs `before` and
  *    `after`, each listing every column (convertSchemaToDebeziumSchema);
  *    the top-level struct is required;
  *  - per-column Connect type mapping
  *    (convertCDCDataTypeToDebeziumDataType): TINYINT/SMALLINT→int16,
  *    INT→int32, BIGINT→int64, FLOAT→float, DOUBLE→double,
  *    BOOLEAN→boolean, CHAR/VARCHAR→string, DECIMAL→logical
  *    org.apache.kafka.connect.data.Decimal (bytes + scale/precision
  *    parameters), DATE→logical io.debezium.time.Date (int32),
  *    TIME→io.debezium.time.MicroTime (int64),
  *    TIMESTAMP/TIMESTAMP_TZ→int64 io.debezium.time.Timestamp when the
  *    declared precision is <=3 (column metadata `graft.cdc.precision`,
  *    the reference's DebeziumJsonSerializationSchema.java:370-377
  *    branch; MySQL DATETIME defaults to p=0) else
  *    io.debezium.time.MicroTimestamp,
  *    TIMESTAMP_LTZ→io.debezium.time.ZonedTimestamp (string),
  *    BINARY→io.debezium.data.Bits (bytes + length parameter),
  *    ARRAY/MAP/ROW recurse (element/key/value/field schemas are
  *    required, as the reference's DataType-only overload leaves them);
  *  - nullability → `optional`, column comment → `doc`, and the
  *    default-value expression converts to a typed JSON default
  *    (convertDefaultValue; unparseable numerics drop the default, the
  *    reference's warn-and-skip);
  *  - key order matches Kafka's `JsonConverter.asJsonSchema` rendering,
  *    so output is byte-comparable with the reference e2e goldens
  *    (expectedEvents/mysqlToKafka/debezium-json-with-schema.txt): type,
  *    composite children (fields/items/keys+values), optional, name,
  *    version, doc, parameters, default, and — on struct members — the
  *    member name under `field` last.
  *
  * Pure driver-side string building: the schema block is a per-table
  * constant that rides each record as a literal; no per-row work.
  */
object ConnectSchemaJson {

  /** The full Debezium envelope schema JSON for a table. */
  def debeziumEnvelopeSchema(info: TableInfo): String = {
    val cols = info.schema.fields.map(renderColumn).mkString(",")
    val side = (name: String) =>
      s"""{"type":"struct","fields":[$cols],"optional":true,"field":"$name"}"""
    s"""{"type":"struct","fields":[${side("before")},${side("after")}],"optional":false}"""
  }

  private def renderColumn(f: StructField): String = {
    val doc =
      if (f.metadata.contains("comment")) Some(f.metadata.getString("comment")) else None
    val default =
      if (f.metadata.contains("default"))
        defaultJson(f.metadata.getString("default"), f.dataType, f.metadata)
      else None
    render(f.dataType, f.metadata, f.nullable, doc, default, Some(f.name))
  }

  /** One Connect schema node in JsonConverter.asJsonSchema key order. */
  private def render(dt: DataType, meta: Metadata, optional: Boolean,
      doc: Option[String], default: Option[String], field: Option[String]): String = {
    val (tpe, children, logical, params) = connectType(dt, meta)
    val sb = new StringBuilder
    sb.append("{\"type\":\"").append(tpe).append('"')
    children.foreach { case (k, v) => sb.append(",\"").append(k).append("\":").append(v) }
    sb.append(",\"optional\":").append(optional)
    logical.foreach(n => sb.append(",\"name\":\"").append(esc(n)).append("\",\"version\":1"))
    doc.foreach(d => sb.append(",\"doc\":\"").append(esc(d)).append('"'))
    if (params.nonEmpty)
      sb.append(",\"parameters\":{")
        .append(params.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(","))
        .append('}')
    default.foreach(d => sb.append(",\"default\":").append(d))
    field.foreach(n => sb.append(",\"field\":\"").append(esc(n)).append('"'))
    sb.append('}').toString
  }

  /** (connect type name, pre-rendered composite children, logical name,
    * parameters). Nested element/key/value/field schemas render required
    * with no doc/default — the reference's DataType-only overload.
    */
  private def connectType(dt: DataType, meta: Metadata)
      : (String, Seq[(String, String)], Option[String], Seq[(String, String)]) = dt match {
    case ByteType | ShortType => ("int16", Nil, None, Nil)
    case IntegerType if isTime(meta) =>
      ("int64", Nil, Some("io.debezium.time.MicroTime"), Nil)
    case IntegerType => ("int32", Nil, None, Nil)
    case LongType => ("int64", Nil, None, Nil)
    case d: DecimalType =>
      ("bytes", Nil, Some("org.apache.kafka.connect.data.Decimal"),
        Seq("scale" -> d.scale.toString,
          "connect.decimal.precision" -> d.precision.toString))
    case BooleanType => ("boolean", Nil, None, Nil)
    case FloatType => ("float", Nil, None, Nil)
    case DoubleType => ("double", Nil, None, Nil)
    case DateType => ("int32", Nil, Some("io.debezium.time.Date"), Nil)
    case TimestampNTZType =>
      // DebeziumJsonSerializationSchema.java:370-377: declared precision
      // p<=3 (the MySQL DATETIME(0-3) common case) is the millisecond
      // logical type; p>3 (or unknown — Spark values are micros) the
      // microsecond one. Declared precision rides in column metadata
      // (graft.cdc.precision, attached by DdlParser).
      ("int64", Nil,
        Some(if (isMillisPrecision(meta)) "io.debezium.time.Timestamp"
        else "io.debezium.time.MicroTimestamp"), Nil)
    case TimestampType =>
      ("string", Nil, Some("io.debezium.time.ZonedTimestamp"), Nil)
    case s: StructType if s == CdcTemporal.ZonedTimestampType =>
      // TIMESTAMP_TZ rides our (instant, tz) struct; the reference maps
      // TIMESTAMP_WITH_TIME_ZONE through the same precision branch
      ("int64", Nil,
        Some(if (isMillisPrecision(meta)) "io.debezium.time.Timestamp"
        else "io.debezium.time.MicroTimestamp"), Nil)
    case s: StructType if s == CdcTemporal.ZonedTimeType =>
      // TIME WITH TIME ZONE has no case in the reference's switch —
      // falls to its default string branch
      ("string", Nil, None, Nil)
    case BinaryType =>
      // unbounded BYTES carries Int.MaxValue, the reference's
      // DataTypes.getLength(BYTES) (DebeziumJsonSerializationSchemaTest
      // pins "2147483647")
      val len = if (meta.contains("length")) meta.getString("length") else "2147483647"
      ("bytes", Nil, Some("io.debezium.data.Bits"), Seq("length" -> len))
    case ArrayType(e, _) =>
      ("array", Seq("items" -> render(e, Metadata.empty, optional = false, None, None, None)),
        None, Nil)
    case MapType(k, v, _) =>
      ("map", Seq(
        "keys" -> render(k, Metadata.empty, optional = false, None, None, None),
        "values" -> render(v, Metadata.empty, optional = false, None, None, None)),
        None, Nil)
    case s: StructType =>
      ("struct", Seq("fields" -> s.fields.map(f =>
        render(f.dataType, Metadata.empty, optional = false, None, None, Some(f.name)))
        .mkString("[", ",", "]")), None, Nil)
    case _ => ("string", Nil, None, Nil)
  }

  /** Default-value expression → typed JSON literal
    * (DebeziumJsonSerializationSchema.convertDefaultValue + Connect's
    * convertToJson): numerics parse to numbers, DECIMAL serializes as the
    * base64 unscaled bytes at the declared scale (Connect Decimal wire
    * form), BINARY as base64 of the UTF-8 bytes, everything else as a
    * string. A default the declared type cannot parse is dropped — the
    * reference warns and skips rather than failing the pipeline.
    */
  private[cdc] def defaultJson(expr: String, dt: DataType, meta: Metadata): Option[String] =
    try dt match {
      // Boolean.parseBoolean semantics: never throws, anything but
      // (case-insensitive) "true" renders false — so a MySQL default '1'
      // yields "default":false exactly like the reference output
      case BooleanType => Some(expr.trim.equalsIgnoreCase("true").toString)
      case ByteType | ShortType => Some(expr.trim.toShort.toString)
      case IntegerType if isTime(meta) => Some(expr.trim.toLong.toString)
      case IntegerType | DateType => Some(expr.trim.toInt.toString)
      case LongType | TimestampNTZType => Some(expr.trim.toLong.toString)
      case s: StructType if s == CdcTemporal.ZonedTimestampType =>
        Some(expr.trim.toLong.toString)
      case FloatType => Some(expr.trim.toFloat.toString)
      case DoubleType => Some(expr.trim.toDouble.toString)
      case d: DecimalType =>
        val unscaled = new java.math.BigDecimal(expr.trim)
          .setScale(d.scale, java.math.RoundingMode.HALF_UP)
          .unscaledValue().toByteArray
        Some("\"" + java.util.Base64.getEncoder.encodeToString(unscaled) + "\"")
      case BinaryType =>
        Some("\"" + java.util.Base64.getEncoder.encodeToString(
          expr.getBytes("UTF-8")) + "\"")
      case _ => Some("\"" + esc(expr) + "\"")
    } catch { case _: IllegalArgumentException => None }

  // zone-free NTZ ↔ epoch-micros conversions (shared with the (instant,
  // tz) struct rendering): see graft.sources.CdcTemporal scaladoc for the
  // DST-window exactness argument
  private def ntzEpochMicros(c: Column): Column = CdcTemporal.ntzEpochMicros(c)
  private def microsToNtz(micros: Column): Column = CdcTemporal.microsToNtz(micros)

  private def isTime(meta: Metadata): Boolean =
    meta.contains("graft.cdc.type") && meta.getString("graft.cdc.type") == "time"

  /** Declared temporal precision <=3 → the millisecond logical type.
    * Absent metadata means the precision is unknown; Spark values are
    * microseconds, so micros is the faithful declaration then.
    */
  private def isMillisPrecision(meta: Metadata): Boolean =
    meta.contains("graft.cdc.precision") && meta.getLong("graft.cdc.precision") <= 3

  /** Does this column's stored Spark form differ from the Connect wire
    * form its schema node declares? (Decides whether encodeWithSchema
    * must project before to_json.)
    */
  private[cdc] def needsWireProjection(dt: DataType, meta: Metadata): Boolean = dt match {
    case IntegerType if isTime(meta) => true // millis INT vs int64 micros
    case TimestampNTZType => true            // to_json renders a string
    case TimestampType => true               // session-zone string vs ISO-offset
    case DateType => true                    // to_json renders "yyyy-MM-dd"
    case s: StructType if s == CdcTemporal.ZonedTimestampType => true
    case s: StructType if s == CdcTemporal.ZonedTimeType => true
    case ArrayType(e, _) => needsWireProjection(e, Metadata.empty)
    case MapType(_, v, _) => needsWireProjection(v, Metadata.empty)
    case st: StructType =>
      st.fields.exists(f => needsWireProjection(f.dataType, f.metadata))
    case _ => false
  }

  /** Project a payload column to the Connect wire form the schema block
    * declares, so a schema-aware consumer (Kafka's JsonConverter) can
    * read the payload it is told to expect:
    *
    *  - TIME (millis-of-day INT) → int64 MICROseconds (MicroTime);
    *  - TIMESTAMP / TIMESTAMP_TZ → int64 epoch micros, or epoch millis
    *    when the declared precision is <=3 (io.debezium.time.Timestamp);
    *  - TIMESTAMP_LTZ → ISO-8601 UTC string with 'Z' (ZonedTimestamp) —
    *    to_json would render it in an unspecified session-zone format;
    *  - DATE → int32 epoch days (io.debezium.time.Date) — to_json would
    *    render "yyyy-MM-dd";
    *  - DECIMAL stays a JSON number (Connect's decimal.format=NUMERIC
    *    convention — also what the reference emits, its
    *    encodeDecimalAsPlainNumber path); BINARY stays base64 (to_json
    *    already matches Connect's bytes encoding);
    *  - arrays/maps/structs recurse.
    *
    * Deliberate divergence, pinned in ConnectSchemaJsonSpec: the
    * reference serializes payload temporals as TimestampFormat STRINGS
    * (RowDataToJsonConverters via DebeziumJsonRowDataSerializationSchema
    * .java:92-97) even while its schema block declares int64 — a
    * schema-aware consumer cannot read that. We emit the declared wire
    * form instead; the e2e goldens carry no temporal columns, so golden
    * byte-compatibility is unaffected.
    */
  private[cdc] def wireForm(c: Column, dt: DataType, meta: Metadata): Column = dt match {
    case IntegerType if isTime(meta) => c.cast(LongType) * 1000L
    case TimestampNTZType =>
      // the NTZ wall clock is the UTC instant of the wire value.
      // Zone-FREE field arithmetic (ntzEpochMicros): the previous
      // cast-through-LTZ + from_utc_timestamp pair evaluated the session
      // zone's offset at two different instants, so a DST session zone
      // (`pipeline.local-time-zone: America/New_York`) shifted wall
      // clocks inside a transition window by the DST delta. Spark's `/`
      // is double division — cast back so the wire value is the declared
      // int64, not a JSON double
      val micros = ntzEpochMicros(c)
      if (isMillisPrecision(meta)) (micros / 1000L).cast(LongType) else micros
    case s: StructType if s == CdcTemporal.ZonedTimestampType =>
      val micros = unix_micros(c.getField("instant"))
      if (isMillisPrecision(meta)) (micros / 1000L).cast(LongType) else micros
    case s: StructType if s == CdcTemporal.ZonedTimeType =>
      concat(CdcTemporal.timeToString(c.getField("millis")),
        coalesce(c.getField("tz"), lit("")))
    case TimestampType =>
      // render the instant's UTC wall clock with no session zone in the
      // path: instant → epoch micros (zone-free) → NTZ via field
      // arithmetic → string cast (which trims fractional trailing zeros
      // exactly like the previous SSSSSS+strip form). The old
      // to_utc_timestamp(c, current_timezone()) + date_format pair had
      // the same DST-window flaw as the NTZ case above.
      concat(translate(microsToNtz(unix_micros(c)).cast(StringType), " ", "T"),
        lit("Z"))
    case DateType => datediff(c, to_date(lit("1970-01-01")))
    case ArrayType(e, _) if needsWireProjection(e, Metadata.empty) =>
      transform(c, x => wireForm(x, e, Metadata.empty))
    case MapType(_, v, _) if needsWireProjection(v, Metadata.empty) =>
      transform_values(c, (_, x) => wireForm(x, v, Metadata.empty))
    case st: StructType if needsWireProjection(st, Metadata.empty) =>
      when(c.isNotNull, struct(st.fields.map(f =>
        wireForm(c.getField(f.name), f.dataType, f.metadata).as(f.name)): _*))
    case _ => c
  }

  /** A before/after side struct projected to wire form (null stays
    * null — rebuilding a struct from a null parent must not fabricate a
    * row of nulls). Identity when no column needs projection, so the
    * common all-scalar case adds zero plan nodes.
    */
  private[cdc] def wireSide(side: Column, schema: StructType): Column =
    if (!schema.fields.exists(f => needsWireProjection(f.dataType, f.metadata))) side
    else when(side.isNotNull, struct(schema.fields.map(f =>
      wireForm(side.getField(f.name), f.dataType, f.metadata).as(f.name)): _*))

  /** The Spark type a column's Connect WIRE value parses as — what
    * `from_json` must be told when decoding a real Debezium feed (epoch
    * ints for temporals, the same forms [[wireForm]] writes).
    */
  private[cdc] def wireType(dt: DataType, meta: Metadata): DataType = dt match {
    case IntegerType if isTime(meta) => LongType // MicroTime int64
    case TimestampNTZType => LongType            // (Micro)Timestamp int64
    case s: StructType if s == CdcTemporal.ZonedTimestampType => LongType
    case s: StructType if s == CdcTemporal.ZonedTimeType => StringType
    case TimestampType => StringType             // ZonedTimestamp ISO string
    case DateType => IntegerType                 // epoch days int32
    case ArrayType(e, n) => ArrayType(wireType(e, Metadata.empty), n)
    case MapType(k, v, n) => MapType(k, wireType(v, Metadata.empty), n)
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = wireType(f.dataType, f.metadata))))
    case _ => dt
  }

  /** Inverse of [[wireForm]]: a parsed wire value back to the graft
    * storage form. The int64 timestamp wire forms carry no zone, so a
    * TIMESTAMP_TZ reconstructs at UTC ('Z') — the information the
    * reference's MicroTimestamp declaration itself drops.
    */
  private[cdc] def fromWire(c: Column, dt: DataType, meta: Metadata): Column = dt match {
    case IntegerType if isTime(meta) => (c / 1000L).cast(IntegerType)
    case TimestampNTZType =>
      val micros = if (isMillisPrecision(meta)) c * 1000L else c
      // zone-free inverse: the NTZ wall clock is the UTC reading of the
      // wire micros regardless of `pipeline.local-time-zone` — built by
      // day+interval arithmetic, never through a session-zone cast
      microsToNtz(micros.cast(LongType))
    case s: StructType if s == CdcTemporal.ZonedTimestampType =>
      val micros = if (isMillisPrecision(meta)) c * 1000L else c
      when(c.isNotNull, struct(
        timestamp_micros(micros.cast(LongType)).as("instant"), lit("Z").as("tz")))
    case s: StructType if s == CdcTemporal.ZonedTimeType =>
      when(c.isNotNull, struct(
        CdcTemporal.timeFromString(
          regexp_extract(c, "^(-?\\d{2}:\\d{2}:\\d{2}(?:\\.\\d+)?)", 1)).as("millis"),
        regexp_extract(c, "([+-]\\d{2}:\\d{2}|Z)$", 1).as("tz")))
    case TimestampType => c.cast(TimestampType) // ISO-8601 'Z' string
    case DateType => date_add(to_date(lit("1970-01-01")), c)
    case ArrayType(e, _) if needsWireProjection(e, Metadata.empty) =>
      transform(c, x => fromWire(x, e, Metadata.empty))
    case MapType(_, v, _) if needsWireProjection(v, Metadata.empty) =>
      transform_values(c, (_, x) => fromWire(x, v, Metadata.empty))
    case st: StructType if needsWireProjection(st, Metadata.empty) =>
      when(c.isNotNull, struct(st.fields.map(f =>
        fromWire(c.getField(f.name), f.dataType, f.metadata).as(f.name)): _*))
    case _ => c
  }

  /** Inverse of [[wireSide]]. */
  private[cdc] def unwireSide(side: Column, schema: StructType): Column =
    if (!schema.fields.exists(f => needsWireProjection(f.dataType, f.metadata))) side
    else when(side.isNotNull, struct(schema.fields.map(f =>
      fromWire(side.getField(f.name), f.dataType, f.metadata).as(f.name)): _*))

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
