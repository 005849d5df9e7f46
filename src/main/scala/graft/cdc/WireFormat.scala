package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC envelope a JSON feed carries — the reference Kafka pipeline
  * source's `value.format` (ChangeLogJsonFormatFactory: debezium-json,
  * canal-json) plus MongoDB change-stream documents. One value per feed
  * is the only code that reads an envelope: the columnar decode, the
  * table and database a record names (multi-table routing), its DDL
  * statement (wire schema changes) and the event time
  * `scan.startup.mode=timestamp` filters on (both faces of `graft-cdc`
  * run the one decode). The codecs themselves stay in [[DebeziumJson]],
  * [[CanalJson]] and [[MongoChangeStreamJson]].
  */
sealed trait WireFormat extends Product with Serializable {

  /** The option spelling (`format`, `value.format`). */
  def name: String

  /** Decode a frame whose `value` column holds envelope JSON into the
    * paired changelog frame.
    */
  def decode(json: DataFrame, payload: StructType, seqCol: Option[String]): DataFrame

  /** Table named by the envelope in `value`, or null when it names none. */
  def table(value: Column): Column

  /** Database named by the envelope in `value`, or null when it names none. */
  def database(value: Column): Column

  /** DDL statement of a schema-change envelope in `value`, null on data
    * records; None when the format has no DDL channel.
    */
  def ddl(value: Column): Option[Column]

  /** Event time (epoch millis) of the envelope in `value`, or None when
    * the envelope carries none this codec decodes.
    */
  def eventTime(value: Column): Option[Column]
}

object WireFormat {

  /** Debezium JSON. `schemaInclude` accepts Connect schema-wrapped records
    * (`{"schema":..,"payload":..}`) beside flat ones; `connectWire` reads
    * temporal payloads in Debezium's Connect wire forms — see
    * [[DebeziumJson.decode]].
    */
  final case class Debezium(schemaInclude: Boolean = false, connectWire: Boolean = false)
      extends WireFormat {
    def name: String = "debezium-json"

    def decode(json: DataFrame, payload: StructType, seqCol: Option[String]): DataFrame =
      DebeziumJson.decode(json, "value", payload, seqCol = seqCol,
        connectWire = connectWire, schemaEnvelope = schemaInclude)

    /** An envelope field by JSON path; under `schemaInclude` the Connect
      * `payload` wrapper's copy wins — the per-field coalesce
      * [[DebeziumJson.decode]] applies.
      */
    def field(value: Column, path: String): Column = {
      val flat = get_json_object(value, "$." + path)
      if (schemaInclude) coalesce(get_json_object(value, "$.payload." + path), flat)
      else flat
    }

    def table(value: Column): Column = field(value, "source.table")

    def database(value: Column): Column = field(value, "source.db")

    /** Schema-change messages put the statement at `ddl`, also inside the
      * `historyRecord` document the reference routes
      * (JdbcSourceEventDispatcher.java:69). A substring prefilter keeps
      * the JSON probes off data records, which pay one contains() scan;
      * `"ddl"` also matches inside historyRecord.
      */
    def ddl(value: Column): Option[Column] =
      Some(when(value.contains("\"ddl\""),
        coalesce(field(value, "ddl"), field(value, "historyRecord.ddl"))))

    /** `source.ts_ms` — the binlog event time the reference's timestamp
      * startup compares — then the envelope's own `ts_ms`.
      */
    def eventTime(value: Column): Option[Column] =
      Some(coalesce(field(value, "source.ts_ms"), field(value, "ts_ms")).cast(LongType))
  }

  /** Canal JSON: multi-row messages, `isDdl` envelopes, no event time. */
  case object Canal extends WireFormat {
    def name: String = "canal-json"

    def decode(json: DataFrame, payload: StructType, seqCol: Option[String]): DataFrame =
      CanalJson.decode(json, "value", payload, seqCol = seqCol)

    def table(value: Column): Column = get_json_object(value, "$.table")

    def database(value: Column): Column = get_json_object(value, "$.database")

    /** `sql` when `isDdl` is true. Real canal feeds carry `"isDdl":false`
      * on every data record, so the common false spellings are excluded
      * by substring before any JSON probe; unusual whitespace only costs
      * the probe, never a missed DDL.
      */
    def ddl(value: Column): Option[Column] =
      Some(when(value.contains("\"isDdl\"") && !value.contains("\"isDdl\":false") &&
          !value.contains("\"isDdl\": false") &&
          get_json_object(value, "$.isDdl") === "true",
        get_json_object(value, "$.sql")))

    def eventTime(value: Column): Option[Column] = None
  }

  /** MongoDB change-stream documents: no before images, `ns` as the
    * namespace, `clusterTime` as event time, no DDL channel.
    */
  case object Mongo extends WireFormat {
    def name: String = "mongo-json"

    def decode(json: DataFrame, payload: StructType, seqCol: Option[String]): DataFrame =
      MongoChangeStreamJson.decode(json, "value", payload, seqCol = seqCol)

    def table(value: Column): Column = get_json_object(value, "$.ns.coll")

    def database(value: Column): Column = get_json_object(value, "$.ns.db")

    def ddl(value: Column): Option[Column] = None

    def eventTime(value: Column): Option[Column] =
      Some(get_json_object(value, "$.clusterTime").cast(LongType))
  }

  private val all: Seq[WireFormat] = Seq(Debezium(), Canal, Mongo)

  /** The one place a format name becomes a [[WireFormat]]: `name`
    * defaults to debezium-json (the reference's `value.format` default),
    * and the debezium consume options — `debezium-json.schema-include`,
    * `debezium-json.connect-wire.enabled` — are read from `options` and
    * rejected on any other format.
    */
  def parse(name: Option[String], options: Map[String, String]): WireFormat = {
    val schemaInclude = options.get("debezium-json.schema-include").exists(_.toBoolean)
    val connectWire = options.get("debezium-json.connect-wire.enabled").exists(_.toBoolean)
    val named = name.fold[WireFormat](Debezium())(n => all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"format must be ${all.map(_.name).mkString(" | ")}, got: $n")))
    named match {
      case _: Debezium => Debezium(schemaInclude, connectWire)
      case other if schemaInclude || connectWire =>
        throw new IllegalArgumentException(
          "debezium-json.schema-include / debezium-json.connect-wire.enabled " +
            s"apply to format debezium-json only, not ${other.name}")
      case other => other
    }
  }
}
