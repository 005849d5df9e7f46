package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MongoDB change-stream envelope codec — the document-DB wire shape,
  * which is a DIFFERENT contract from the SQL envelopes (debezium/canal):
  * there is no before image, updates deliver the looked-up post-image,
  * and deletes carry only the document key. Reference:
  * MongoDBConnectorDeserializationSchema.java:125-170 (op dispatch),
  * MongoDBEnvelope.java:47-83 (field names).
  *
  * Envelope: `{_id: {_data}, operationType, clusterTime, fullDocument,
  * documentKey: {_id}, ns: {db, coll}}`.
  *
  *  - `insert`  -> +I of `fullDocument`
  *  - `update`  -> +R of `fullDocument` (the fullDocument lookup races
  *    deletes: a null post-image means the document vanished before the
  *    lookup ran, and the reference silently drops the event — so does
  *    this decoder)
  *  - `replace` -> +R of `fullDocument`
  *  - `delete`  -> -D keyed by `documentKey` (only key fields populated)
  *  - `invalidate`/`drop`/`rename`/other collection events -> dropped
  *
  * The update/replace ops decode to REPLACE (`+R`) because that IS the
  * changelog contract for upsert-by-key without before-images
  * (DataChangeEvent.java:100-154); downstream `Changelog.materialize`
  * needs nothing else. Both directions are pure `to_json`/`from_json`
  * projections — distributed, codegen-friendly, no UDFs.
  */
object MongoChangeStreamJson {

  def envelopeSchema(payload: StructType): StructType = StructType(Seq(
    StructField("_id", StructType(Seq(StructField("_data", StringType)))),
    StructField("operationType", StringType),
    StructField("clusterTime", LongType),
    StructField("fullDocument", payload),
    StructField("documentKey", payload),
    StructField("ns", StructType(Seq(
      StructField("db", StringType),
      StructField("coll", StringType))))))

  /** Encode a paired changelog frame into change-stream envelope JSON
    * (for round trips and scripted feeds; the real producer is MongoDB).
    * I -> insert, R/U -> replace (post-image only — the document model
    * has no before image to encode), D -> delete with `documentKey`
    * restricted to `pkNames`. `__seq` rides into `clusterTime`.
    */
  def encode(paired: DataFrame, database: String, collection: String,
      pkNames: Seq[String], passthrough: Seq[String] = Nil): DataFrame = {
    val op = col(Changelog.OpCol)
    val key = struct(pkNames.map(k => col(s"${Changelog.BeforeCol}.$k")): _*)
    paired.select((to_json(struct(
      struct(concat(lit("82"), conv(col(Changelog.SeqCol).cast(StringType), 10, 16))
        .as("_data")).as("_id"),
      when(op === "I", "insert").when(op === "D", "delete")
        .otherwise("replace").as("operationType"),
      col(Changelog.SeqCol).cast(LongType).as("clusterTime"),
      when(op =!= "D", col(Changelog.AfterCol)).as("fullDocument"),
      when(op === "D", key).as("documentKey"),
      struct(lit(database).as("db"), lit(collection).as("coll")).as("ns")
    )).as("value") +: passthrough.map(col)): _*)
  }

  /** Decode change-stream envelope JSON into the paired changelog frame.
    * `__seq` comes from `seqCol` when the transport supplies an order
    * (e.g. a Kafka offset), else from `clusterTime`. The namespace a
    * multi-collection feed routes by is read by [[WireFormat.Mongo]].
    */
  def decode(json: DataFrame, jsonCol: String, payload: StructType,
      seqCol: Option[String] = None): DataFrame = {
    // explode(array(...)) is a generator BARRIER (NOTES "Fix B"): the op
    // filters below reference `__env`, and Catalyst pushes a filter below
    // a plain projection by INLINING the aliased expression — every row
    // then paid the envelope parse twice (a schema-pruned but still
    // full-tokenize from_json copy in the pushed Filter, plus the full
    // parse in the Project; q60's r19 before-plan shows both nodes).
    // Filters cannot cross a Generate, so the parse runs exactly once.
    // array(x) is a never-null 1-element array: explode yields exactly
    // one row per input row (null x included) — same rows as withColumn.
    val env = json.withColumn("__env",
      explode(array(from_json(col(jsonCol), envelopeSchema(payload)))))
    val op = col("__env.operationType")
    val seq = seqCol.map(col).getOrElse(col("__env.clusterTime"))
    env
      .where(op.isin("insert", "update", "replace", "delete"))
      // delete-raced update lookups: no post-image to apply
      .where(!(op.isin("update", "replace") && col("__env.fullDocument").isNull))
      .select(
        when(op === "insert", "I").when(op === "delete", "D")
          .otherwise("R").as(Changelog.OpCol),
        when(op === "delete", col("__env.documentKey")).as(Changelog.BeforeCol),
        when(op =!= "delete", col("__env.fullDocument")).as(Changelog.AfterCol),
        seq.cast(LongType).as(Changelog.SeqCol))
  }
}
