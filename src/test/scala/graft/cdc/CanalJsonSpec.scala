package graft.cdc

import graft.SparkSpec
import graft.model._
import graft.sources.{HybridSnapshotSource, StartupMode, ValuesSource}
import graft.pipeline.{PipelineDef, PipelineRunner, SinkDef, SourceDef}
import graft.sinks.ValuesDatabase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canal-JSON codec round trips + scan.startup.mode interpretation. */
class CanalJsonSpec extends SparkSpec {

  private val tid = TableId.parse("db.t")
  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))
  private val tinfo = TableInfo(payload, primaryKeys = Seq("id"))

  private def pairedFixture = ValuesSource.pairedFrame(spark, payload, Seq(
    DataChangeEvent.insert(tid, Row(1L, "a")),
    DataChangeEvent.insert(tid, Row(2L, "b")),
    DataChangeEvent.update(tid, Row(1L, "a"), Row(1L, "a2")),
    DataChangeEvent.delete(tid, Row(2L, "b"))), seqStart = 0L)

  test("canal-json encode emits the reference envelope shape") {
    val rows = CanalJson.encode(pairedFixture, "db", "t", Seq("id"))
      .collect().map(_.getString(0))
    assert(rows.length === 4)
    val insert = rows(0)
    assert(insert.contains(""""data":[{"id":1,"v":"a"}]"""))
    assert(insert.contains(""""type":"INSERT""""))
    assert(insert.contains(""""pkNames":["id"]"""))
    assert(!insert.contains(""""old""""), "INSERT must omit old")
    val update = rows(2)
    assert(update.contains(""""old":[{"id":1,"v":"a"}]"""))
    assert(update.contains(""""data":[{"id":1,"v":"a2"}]"""))
    assert(update.contains(""""type":"UPDATE""""))
    val delete = rows(3)
    assert(delete.contains(""""data":[{"id":2,"v":"b"}]"""), "DELETE carries before in data")
    assert(delete.contains(""""type":"DELETE""""))
  }

  test("canal-json round trip materializes to the same state") {
    val direct = Changelog.materialize(Changelog.explode(pairedFixture), Seq("id"))
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val encoded = CanalJson.encode(pairedFixture, "db", "t", Seq("id"))
      .withColumn("off", monotonically_increasing_id())
    val decoded = CanalJson.decode(encoded, "value", payload, seqCol = Some("off"))
    val roundTrip = Changelog.materialize(
      Changelog.explode(decoded), Seq("id"))
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(roundTrip === direct)
    assert(roundTrip === Seq((1L, "a2")))
  }

  test("canal-json decode handles multi-row messages pairing old by position") {
    import spark.implicits._
    val msg =
      """{"old":[{"id":1,"v":"a"},{"id":2,"v":"b"}],
        |"data":[{"id":1,"v":"a9"},{"id":2,"v":"b9"}],
        |"type":"UPDATE","database":"db","table":"t","pkNames":["id"]}"""
        .stripMargin.replace("\n", "")
    val decoded = CanalJson.decode(Seq(msg).toDF("value"), "value", payload)
    val got = decoded.select(col(Changelog.OpCol), col("before.v"), col("after.v"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got === Seq(("U", "a", "a9"), ("U", "b", "b9")))
  }

  test("scan.startup.mode option parsing") {
    assert(StartupMode.fromOptions(Map.empty) === StartupMode.Initial)
    assert(StartupMode.fromOptions(Map("scan.startup.mode" -> "snapshot")) ===
      StartupMode.SnapshotOnly)
    assert(StartupMode.fromOptions(Map("scan.startup.mode" -> "earliest-offset")) ===
      StartupMode.Earliest)
    assert(StartupMode.fromOptions(Map(
      "scan.startup.mode" -> "specific-offset",
      "scan.startup.specific-offset.pos" -> "42")) === StartupMode.SpecificOffset(42L))
    assert(StartupMode.fromOptions(Map(
      "scan.startup.mode" -> "timestamp",
      "scan.startup.timestamp-ms" -> "1700000000000")) ===
      StartupMode.AtTimestamp(1700000000000L))
    intercept[IllegalArgumentException](
      StartupMode.fromOptions(Map("scan.startup.mode" -> "bogus")))
  }

  test("startup modes select the right batches") {
    import spark.implicits._
    val snapshot = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val feed = ValuesSource.pairedFrame(spark, payload, Seq(
      DataChangeEvent.insert(tid, Row(3L, "c")), // offset 100
      DataChangeEvent.insert(tid, Row(4L, "d")), // offset 101
      DataChangeEvent.insert(tid, Row(5L, "e"))), // offset 102
      seqStart = 100L)

    def run(mode: StartupMode, latest: Long = Long.MaxValue): Set[String] = {
      val src = HybridSnapshotSource.withStartup(
        mode, tid, tinfo, snapshot, lowWatermark = 99L,
        changeFeed = Seq(feed), latestOffset = latest)
      val sink = new ValuesDatabase
      new PipelineRunner(spark,
        PipelineDef(SourceDef("hybrid", Map.empty), SinkDef("values", Map.empty)),
        src, sink).run()
      sink.results(tid).map(_.stripPrefix(s"${tid.identifier}:")).toSet
    }

    assert(run(StartupMode.Initial) === Set("1;a", "2;b", "3;c", "4;d", "5;e"))
    assert(run(StartupMode.SnapshotOnly) === Set("1;a", "2;b"))
    assert(run(StartupMode.Earliest) === Set("3;c", "4;d", "5;e"))
    assert(run(StartupMode.Latest, latest = 101L) === Set("5;e"))
    assert(run(StartupMode.SpecificOffset(101L)) === Set("4;d", "5;e"))
    assert(run(StartupMode.AtTimestamp(102L)) === Set("5;e")) // identity mapping
  }
}
