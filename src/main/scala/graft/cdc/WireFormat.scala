package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC envelope a JSON feed carries — the reference Kafka pipeline
  * source's `value.format` (ChangeLogJsonFormatFactory: debezium-json,
  * canal-json) plus MongoDB change-stream documents. One value per feed
  * answers everything the front ends ask of the envelope: the columnar
  * decode, the event time `scan.startup.mode=timestamp` filters on, and
  * the row-level twin the `graft-cdc` micro-batch reader runs. The codecs
  * themselves stay in [[DebeziumJson]], [[CanalJson]] and
  * [[MongoChangeStreamJson]].
  */
sealed trait WireFormat extends Product with Serializable {

  /** The option spelling (`format`, `value.format`). */
  def name: String

  /** Decode a frame whose `value` column holds envelope JSON into the
    * paired changelog frame, the codec's bookkeeping columns (`__table`;
    * mongo's `__db` and `__resume_token`) dropped.
    */
  def decode(json: DataFrame, payload: StructType, seqCol: Option[String]): DataFrame

  /** Event time (epoch millis) of the envelope in `value`, or None when
    * the envelope carries none this codec decodes. [[RowDecoder.emit]]'s
    * `minTs` cutoff reads the same fields.
    */
  def eventTime(value: Column): Option[Column]

  /** The row-level twin of [[decode]] for one payload schema. */
  def rowDecoder(payload: StructType): WireFormat.RowDecoder
}

object WireFormat {

  /** Row-level decode for hand-rolled line readers: `schema` is the
    * parse schema of one envelope line; `emit` hands each changelog row
    * of a parsed envelope to `out(op, image, seq)` — an image row only
    * when that image exists, unknown ops as +R, updates as their -U/+U
    * pair — exactly the rows [[decode]] → `Changelog.explode` yields.
    * Envelopes whose event time is absent or below `minTs` emit nothing
    * (`Long.MinValue`: no cutoff).
    */
  trait RowDecoder {
    def schema: StructType
    def emit(env: InternalRow, seq: Long, minTs: Long,
        out: (String, InternalRow, Long) => Unit): Unit
  }

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
        connectWire = connectWire, schemaEnvelope = schemaInclude).drop("__table")

    /** An envelope field by JSON path; under `schemaInclude` the Connect
      * `payload` wrapper's copy wins — the per-field coalesce
      * [[DebeziumJson.decode]] applies.
      */
    def field(value: Column, path: String): Column = {
      val flat = get_json_object(value, "$." + path)
      if (schemaInclude) coalesce(get_json_object(value, "$.payload." + path), flat)
      else flat
    }

    /** `source.ts_ms` — the binlog event time the reference's timestamp
      * startup compares — then the envelope's own `ts_ms`.
      */
    def eventTime(value: Column): Option[Column] =
      Some(coalesce(field(value, "source.ts_ms"), field(value, "ts_ms")).cast(LongType))

    def rowDecoder(payload: StructType): RowDecoder = new RowDecoder {
      // before(0), after(1), op(2), ts_ms(3), source(4) = (db, schema,
      // table, ts_ms) [, payload(5) under schema-include — a Connect-wrapped
      // record carries the real envelope there; flat records coexist].
      // Only this parse gains source.ts_ms: decode's schema has no use for it.
      val schema: StructType = withSourceTs(
        DebeziumJson.parseSchema(payload, connectWire, schemaInclude))
      // wire→storage image projection (epoch ints → graft temporal
      // encodings), shared semantics with DebeziumJson.decode's
      // unwireSide — None when nothing needs converting
      private val unwire =
        if (connectWire) ConnectSchemaJson.wireRowConverter(payload) else None

      private def eventTs(env: InternalRow): Option[Long] = {
        def sourceTs(e: InternalRow) =
          if (e == null || e.isNullAt(4) || e.getStruct(4, 4).isNullAt(3)) None
          else Some(e.getStruct(4, 4).getLong(3))
        def ownTs(e: InternalRow) =
          if (e == null || e.isNullAt(3)) None else Some(e.getLong(3))
        val wrapped = if (schemaInclude && !env.isNullAt(5)) env.getStruct(5, 5) else null
        sourceTs(wrapped).orElse(sourceTs(env)).orElse(ownTs(wrapped)).orElse(ownTs(env))
      }

      def emit(raw: InternalRow, seq: Long, minTs: Long,
          out: (String, InternalRow, Long) => Unit): Unit = {
        if (minTs != Long.MinValue && eventTs(raw).forall(_ < minTs)) return
        val env =
          if (schemaInclude && !raw.isNullAt(5)) raw.getStruct(5, 5) else raw
        val op = if (env.isNullAt(2)) null else env.getUTF8String(2).toString
        def img(i: Int): InternalRow =
          if (env.isNullAt(i)) null
          else {
            val image = env.getStruct(i, payload.length)
            unwire.map(_(image)).getOrElse(image)
          }
        op match {
          case "c" | "r" => if (img(1) != null) out("+I", img(1), seq)
          case "u" =>
            if (img(0) != null) out("-U", img(0), seq)
            if (img(1) != null) out("+U", img(1), seq)
          case "d" => if (img(0) != null) out("-D", img(0), seq)
          case _ => if (img(1) != null) out("+R", img(1), seq)
        }
      }
    }
  }

  /** Canal JSON: multi-row messages, `isDdl` envelopes, no event time. */
  case object Canal extends WireFormat {
    def name: String = "canal-json"

    def decode(json: DataFrame, payload: StructType, seqCol: Option[String]): DataFrame =
      CanalJson.decode(json, "value", payload, seqCol = seqCol).drop("__table")

    def eventTime(value: Column): Option[Column] = None

    def rowDecoder(payload: StructType): RowDecoder = new RowDecoder {
      // old(0), data(1), type(2), database(3), table(4), pkNames(5)
      val schema: StructType = CanalJson.envelopeSchema(payload)

      def emit(env: InternalRow, seq: Long, minTs: Long,
          out: (String, InternalRow, Long) => Unit): Unit = {
        if (env.isNullAt(1)) return
        val data = env.getArray(1)
        val old = if (env.isNullAt(0)) null else env.getArray(0)
        val tpe = if (env.isNullAt(2)) null else env.getUTF8String(2).toString
        var i = 0
        while (i < data.numElements()) {
          if (!data.isNullAt(i)) {
            val row = data.getStruct(i, payload.length)
            tpe match {
              case "INSERT" => out("+I", row, seq)
              case "DELETE" => out("-D", row, seq) // canal DELETEs carry before in data
              case "UPDATE" =>
                if (old != null && i < old.numElements() && !old.isNullAt(i))
                  out("-U", old.getStruct(i, payload.length), seq)
                out("+U", row, seq)
              case _ => out("+R", row, seq)
            }
          }
          i += 1
        }
      }
    }
  }

  /** MongoDB change-stream documents: no before images, `clusterTime` as
    * event time, no DDL channel.
    */
  case object Mongo extends WireFormat {
    def name: String = "mongo-json"

    def decode(json: DataFrame, payload: StructType, seqCol: Option[String]): DataFrame =
      MongoChangeStreamJson.decode(json, "value", payload, seqCol = seqCol)
        .drop("__db", "__table", "__resume_token")

    def eventTime(value: Column): Option[Column] =
      Some(get_json_object(value, "$.clusterTime").cast(LongType))

    def rowDecoder(payload: StructType): RowDecoder = new RowDecoder {
      // _id(0), operationType(1), clusterTime(2), fullDocument(3),
      // documentKey(4), ns(5)
      val schema: StructType = MongoChangeStreamJson.envelopeSchema(payload)

      def emit(env: InternalRow, seq: Long, minTs: Long,
          out: (String, InternalRow, Long) => Unit): Unit = {
        if (minTs != Long.MinValue && (env.isNullAt(2) || env.getLong(2) < minTs)) return
        val op = if (env.isNullAt(1)) null else env.getUTF8String(1).toString
        def img(i: Int): InternalRow =
          if (env.isNullAt(i)) null else env.getStruct(i, payload.length)
        op match {
          case "insert" => if (img(3) != null) out("+I", img(3), seq)
          case "update" | "replace" =>
            // delete-raced lookup: no post-image to apply — drop
            if (img(3) != null) out("+R", img(3), seq)
          case "delete" => if (img(4) != null) out("-D", img(4), seq)
          case _ => () // invalidate/drop/rename collection signals
        }
      }
    }
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

  /** Debezium's parse schema with `ts_ms` appended to every `source`
    * struct (the flat one and the Connect `payload` wrapper's).
    */
  private def withSourceTs(env: StructType): StructType = StructType(env.fields.map {
    case f @ StructField("source", s: StructType, _, _) =>
      f.copy(dataType = s.add("ts_ms", LongType))
    case f @ StructField("payload", p: StructType, _, _) =>
      f.copy(dataType = withSourceTs(p))
    case f => f
  })
}
