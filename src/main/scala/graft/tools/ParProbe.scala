package graft.tools

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan-parallelism probe (r19 dev harness): the sf0.1 tables are single
  * small parquet files, so every query's pre-first-exchange stage (JSON
  * encode/parse in the decode family, normalize/tokenize/window-explode in
  * the span family) may be running in ONE task of the 32-core session.
  * This prints each table's scan partition count and A/Bs the two family
  * front ends with and without a pinned-width repartition before the
  * per-row-expensive stage. `runMain graft.tools.ParProbe`.
  */
object ParProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.tuned(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    graft.Tables.names.foreach { n =>
      val df = graft.Tables.load(spark, sfDir, n)
      println(s"[parprobe] $n scanPartitions=${df.rdd.getNumPartitions}")
    }

    def time(name: String, reps: Int = 3)(df: => DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val d = df
        d.agg(bit_xor(xxhash64(struct(d.columns.map(col).toIndexedSeq: _*))))
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[parprobe] $name%-34s " + times.map(t => f"$t%.2f").mkString("  "))
    }

    // ---- decode family shape (q18's debezium roundtrip, the simplest) ----
    import org.apache.spark.sql.types._
    val payloadSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("last_value", DoubleType)))
    def q18Like(fan: Boolean): DataFrame = {
      val ev0 = graft.Tables.load(spark, sfDir, "events")
      val ev = if (fan) ev0.repartition(32) else ev0
      val payload = struct(col("user_id"), round(col("value"), 2).as("last_value"))
      val json = ev.select(
        col("event_id"),
        to_json(struct(
          when(col("event_type") === "error", payload).as("before"),
          when(col("event_type") =!= "error", payload).as("after"),
          when(col("event_type") === "signup", "c")
            .when(col("event_type") === "error", "d")
            .otherwise("u").as("op"),
          (col("event_id") * 0 + 1700000000000L).as("ts_ms"),
          struct(lit("graft").as("db"), lit("events").as("table")).as("source")
        )).as("value"))
      val paired = graft.cdc.DebeziumJson.decode(json, "value", payloadSchema,
        seqCol = Some("event_id"))
      graft.cdc.Changelog.materialize(
        graft.cdc.Changelog.explode(paired), Seq("user_id"))
        .orderBy(col("user_id"))
    }
    time("q18-shape serial")(q18Like(fan = false))
    time("q18-shape fanout32")(q18Like(fan = true))

    // ---- span family shape (q94's spanDedupCut front end) ----
    def q94Like(fan: Boolean): DataFrame = {
      val d0 = graft.Tables.load(spark, sfDir, "documents")
      val docs = if (fan) d0.repartition(32) else d0
      graft.ops.Dedup.spanDedupCut(docs, "doc_id", "text",
        k = 8, hashWindows = false)
    }
    time("q94-shape serial")(q94Like(fan = false))
    spark.catalog.clearCache()
    time("q94-shape fanout32")(q94Like(fan = true))
    spark.catalog.clearCache()

    spark.stop()
  }
}
