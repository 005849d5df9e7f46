package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canal-JSON envelope codec — the second wire format of the reference's
  * Kafka sink (CanalJsonSerializationSchema.java:230-238:
  * `{old: [row]|null, data: [row], type: INSERT|UPDATE|DELETE,
  * database, table, pkNames}`). INSERT carries `after` in data; DELETE
  * carries `before` in data (canal convention); UPDATE/REPLACE carry
  * `after` in data with `before` in old.
  *
  * Like [[DebeziumJson]], both directions are pure projections
  * (`to_json`/`from_json`), fully distributed and codegen-friendly.
  */
object CanalJson {

  def envelopeSchema(payload: StructType): StructType = StructType(Seq(
    StructField("old", ArrayType(payload)),
    StructField("data", ArrayType(payload)),
    StructField("type", StringType),
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("pkNames", ArrayType(StringType))))

  /** Encode a paired changelog frame into canal-JSON strings (one message
    * per change, single-element arrays — the reference's per-event shape).
    * `passthrough` columns (e.g. `__seq` as the future Kafka offset) ride
    * alongside the JSON value.
    *
    * `referenceWire = true` renders nulls explicitly (`"old":null`, null
    * row fields) — byte-exactly the reference sink's output (golden
    * expectedEvents/mysqlToKafka/canal-json.txt). The default drops null
    * fields (smaller messages; decode treats both identically).
    */
  def encode(paired: DataFrame, database: String, table: String,
      pkNames: Seq[String], passthrough: Seq[String] = Nil,
      referenceWire: Boolean = false): DataFrame = {
    val op = col(Changelog.OpCol)
    val jsonOpts =
      if (referenceWire) Map("ignoreNullFields" -> "false") else Map.empty[String, String]
    paired.select((to_json(struct(
      when(op.isin("U", "R") && col(Changelog.BeforeCol).isNotNull,
        array(col(Changelog.BeforeCol))).as("old"),
      when(op === "D", array(col(Changelog.BeforeCol)))
        .otherwise(array(col(Changelog.AfterCol))).as("data"),
      when(op === "I", "INSERT")
        .when(op === "D", "DELETE")
        .otherwise("UPDATE").as("type"),
      lit(database).as("database"),
      lit(table).as("table"),
      typedLit(pkNames).as("pkNames")
    ), jsonOpts).as("value") +: passthrough.map(col)): _*)
  }

  /** Decode canal-JSON strings into the paired changelog frame. Handles
    * multi-row messages (real canal batches several rows per message):
    * `data` explodes and each row pairs with `old` by position. Rows of
    * one message share its `__seq` — canal batches group distinct keys,
    * and the -U/+U convention already shares seq within a change.
    */
  def decode(json: DataFrame, jsonCol: String, payload: StructType,
      seqCol: Option[String] = None): DataFrame = {
    // explode(array(...)) is a generator BARRIER (NOTES "Fix B"):
    // InferFiltersFromGenerate infers `size(data) > 0 AND isnotnull(data)`
    // for the posexplode below and pushes it under the projection by
    // INLINING the aliased envelope parse — every row then paid the
    // to_json+from_json round trip twice (q40's r19 before-plan shows the
    // duplicated from_json in the pushed Filter). Inferred/pushed filters
    // cannot cross a Generate, so with the barrier they evaluate against
    // the materialized `__env` attribute instead — one parse per row.
    // array(x) is a never-null 1-element array: explode yields exactly
    // one row per input row (null x included) — same rows as withColumn.
    val env = json.withColumn("__env",
      explode(array(from_json(col(jsonCol), envelopeSchema(payload)))))
    val seq = seqCol.map(col).getOrElse(monotonically_increasing_id())
    env
      // extract the envelope's scalar fields BEFORE the generator: the
      // Generate node copies every passthrough column into each exploded
      // row, so carrying the whole parsed envelope (with its data/old
      // arrays) through it re-serialized the full message per row — the
      // single-char op code and the old-row lookup are all the tail needs
      .select(
        col("__env.type").as("__type"),
        col("__env.old").as("__old"),
        seq.cast(LongType).as("__seq0"),
        posexplode(col("__env.data")).as(Seq("__i", "__row")))
      .select(
        when(col("__type") === "INSERT", "I")
          .when(col("__type") === "UPDATE", "U")
          .when(col("__type") === "DELETE", "D")
          .otherwise("R").as(Changelog.OpCol),
        when(col("__type") === "DELETE", col("__row"))
          .when(col("__type") === "UPDATE",
            element_at(col("__old"), col("__i") + 1))
          .as(Changelog.BeforeCol),
        when(col("__type") =!= "DELETE", col("__row")).as(Changelog.AfterCol),
        col("__seq0").as(Changelog.SeqCol))
  }
}
