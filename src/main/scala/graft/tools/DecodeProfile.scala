package graft.tools

import graft.Sessions
import graft.cdc.Changelog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stage attribution for the decode family's most expensive composite
  * cell (q79, the Connect-schema roundtrip — ~2.9 s at sf0.1, flat for
  * five rounds): times CUMULATIVE pipeline prefixes so the envelope
  * `from_json` cost separates from the encode and the materialize, and
  * measures one candidate optimization — substring-slicing the payload
  * object out of the `{"schema":...,"payload":...}` record before
  * `from_json`, so Jackson never tokenizes the ~1.7 kB constant schema
  * block that rides EVERY record (a byte `instr` scan replaces a full
  * JSON tokenizer pass over ~80% of the input). Dev harness, 3 reps per
  * stage (rep1 carries codegen warmup); findings land in NOTES.
  *
  * `runMain graft.tools.DecodeProfile` (SPARK_GRAFT_SF_DIR selects the
  * corpus, default sf0.1).
  */
object DecodeProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.tuned(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- q79's exact construction (SparkEntry.q79ConnectSchemaRoundtrip) ----
    val ev = graft.Tables.load(spark, sfDir, "events")
    val info = graft.model.TableInfo(
      StructType(Seq(
        StructField("user_id", LongType, nullable = false),
        StructField("ts3", TimestampNTZType,
          metadata = new MetadataBuilder().putLong("graft.cdc.precision", 3L).build()),
        StructField("ts6", TimestampNTZType,
          metadata = new MetadataBuilder().putLong("graft.cdc.precision", 6L).build()),
        StructField("ltz", TimestampType),
        StructField("d", DateType),
        StructField("t_ms", IntegerType,
          metadata = new MetadataBuilder().putString("graft.cdc.type", "time").build()),
        StructField("last_value", DoubleType))),
      primaryKeys = Seq("user_id"))
    val payload = struct(
      col("user_id"),
      col("ts").cast(TimestampNTZType).as("ts3"),
      col("ts").cast(TimestampNTZType).as("ts6"),
      col("ts").cast(TimestampType).as("ltz"),
      to_date(col("ts")).as("d"),
      (hour(col("ts")) * 3600000 + minute(col("ts")) * 60000 +
        second(col("ts")) * 1000).cast(IntegerType).as("t_ms"),
      round(col("value"), 2).as("last_value"))
    def paired: DataFrame = ev.select(
      when(col("event_type") === "error", payload).as(Changelog.BeforeCol),
      when(col("event_type") =!= "error", payload).as(Changelog.AfterCol),
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as(Changelog.OpCol),
      col("event_id").as(Changelog.SeqCol))
    def encoded: DataFrame = graft.cdc.DebeziumJson.encodeWithSchema(
      paired, "graft", "events", info, passthrough = Seq(Changelog.SeqCol))
    def decoded: DataFrame = graft.cdc.DebeziumJson.decode(
      encoded, "value", info.schema, seqCol = Some(Changelog.SeqCol),
      connectWire = true, schemaEnvelope = true)
    def full: DataFrame = Changelog.materialize(
      Changelog.explode(decoded), Seq("user_id"))
      .orderBy(col("user_id"))

    def time(name: String)(df: => DataFrame): Unit = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val d = df
        d.agg(bit_xor(xxhash64(struct(d.columns.map(col).toIndexedSeq: _*))))
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[decode-profile] $name%-28s " +
        times.map(t => f"$t%.2f").mkString("  "))
    }

    // record shape: how much of each record is the constant schema block?
    val stats = encoded.agg(count(lit(1)).as("n"),
      avg(length(col("value"))).as("avg_len"),
      avg(instr(col("value"), "\"payload\":")).as("avg_payload_at")).collect()(0)
    println(s"[decode-profile] records=${stats.getLong(0)} " +
      f"avg_len=${stats.getDouble(1)}%.0f avg_payload_at=${stats.getDouble(2)}%.0f")

    time("a_source_paired")(paired)
    time("b_encoded (to_json+wire)")(encoded)
    // the decode's from_json alone, consuming one parsed field
    val pSchema = graft.cdc.DebeziumJson.parseSchema(info.schema,
      connectWire = true, schemaEnvelope = true)
    time("c_enc+from_json(envelope)")(encoded.select(
      from_json(col("value"), pSchema).as("__env"))
      .select(col("__env.payload.op").as("op")))
    // candidate: slice the payload object out first — Jackson then never
    // sees the schema block; instr+substring are byte scans
    val basePayloadSchema = graft.cdc.DebeziumJson.parseSchema(info.schema,
      connectWire = true, schemaEnvelope = false)
    // FIRST occurrence of the marker: in a schema-included envelope the
    // envelope's own "payload": key precedes any payload CONTENT that
    // happens to contain the same bytes (substring_index(-1) sliced at
    // the LAST occurrence — wrong for such records; r18 review)
    def sliced: DataFrame = encoded.select(
      expr("substring(value, instr(value, '\"payload\":') + 10)").as("p"),
      col(Changelog.SeqCol))
      .select(expr("substring(p, 1, length(p) - 1)").as("p"), col(Changelog.SeqCol))
    time("d_enc+slice+from_json(payload)")(sliced.select(
      from_json(col("p"), basePayloadSchema).as("__env"))
      .select(col("__env.op").as("op")))
    // xxhash64 refuses maps: render __meta as json for the consumption hash
    time("e_enc+decode (current path)")(decoded
      .withColumn(Changelog.MetaCol, to_json(col(Changelog.MetaCol))))
    time("f_full q79 (materialize)")(full)
    // the end-to-end effect of slicing INSIDE the roundtrip: the sliced
    // payload is exactly the flat envelope, so decode runs with
    // schemaEnvelope = false on it
    def decodedSliced: DataFrame = graft.cdc.DebeziumJson.decode(
      sliced.withColumnRenamed("p", "value"), "value", info.schema,
      seqCol = Some(Changelog.SeqCol),
      connectWire = true, schemaEnvelope = false)
    time("g_full q79 over sliced decode")(Changelog.materialize(
      Changelog.explode(decodedSliced), Seq("user_id"))
      .orderBy(col("user_id")))

    spark.stop()
  }
}
