package graft.cdc

import graft.SparkSpec
import graft.model._
import graft.sources.ValuesSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MongoDB change-stream envelope codec: op mapping (insert/+I,
  * update+replace/+R with no before image, delete/-D keyed by
  * documentKey), the delete-raced-update drop rule, and a decode that
  * yields the changelog columns alone (the namespace is read by
  * [[WireFormat.Mongo]]).
  */
class MongoChangeStreamJsonSpec extends SparkSpec {

  private val tid = TableId.parse("appdb.users")
  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def pairedFixture = ValuesSource.pairedFrame(spark, payload, Seq(
    DataChangeEvent.insert(tid, Row(1L, "a")),
    DataChangeEvent.insert(tid, Row(2L, "b")),
    DataChangeEvent.replace(tid, Row(1L, "a2")),
    DataChangeEvent.delete(tid, Row(2L, "b"))), seqStart = 0L)

  test("encode emits the change-stream envelope shape") {
    val rows = MongoChangeStreamJson.encode(pairedFixture, "appdb", "users", Seq("id"))
      .collect().map(_.getString(0))
    assert(rows.length === 4)
    assert(rows(0).contains(""""operationType":"insert""""))
    assert(rows(0).contains(""""fullDocument":{"id":1,"v":"a"}"""))
    assert(rows(0).contains(""""ns":{"db":"appdb","coll":"users"}"""))
    assert(!rows(0).contains("documentKey"), "insert omits documentKey here")
    assert(rows(2).contains(""""operationType":"replace""""))
    assert(rows(2).contains(""""fullDocument":{"id":1,"v":"a2"}"""))
    val delete = rows(3)
    assert(delete.contains(""""operationType":"delete""""))
    assert(delete.contains(""""documentKey":{"id":2}"""), "delete carries ONLY the key")
    assert(!delete.contains("fullDocument"), "delete has no post-image")
  }

  test("decode: ops map to I/R/D, no before images, changelog columns only") {
    val encoded = MongoChangeStreamJson.encode(
      pairedFixture, "appdb", "users", Seq("id"))
    val decoded = MongoChangeStreamJson.decode(encoded, "value", payload)
      .orderBy(col(Changelog.SeqCol))
    val got = decoded.collect()
    assert(got.map(_.getAs[String](Changelog.OpCol)).toSeq === Seq("I", "I", "R", "D"))
    // R rows have after only; D rows have key-only before
    val r = got(2)
    assert(r.getAs[Row](Changelog.BeforeCol) === null)
    assert(r.getAs[Row](Changelog.AfterCol).getLong(0) === 1L)
    val d = got(3)
    assert(d.getAs[Row](Changelog.AfterCol) === null)
    assert(d.getAs[Row](Changelog.BeforeCol).getLong(0) === 2L)
    assert(d.getAs[Row](Changelog.BeforeCol).isNullAt(1), "documentKey has no v")
    assert(decoded.columns.toSeq ===
      Seq(Changelog.OpCol, Changelog.BeforeCol, Changelog.AfterCol, Changelog.SeqCol))
    val ns = encoded.select(WireFormat.Mongo.database(col("value")),
      WireFormat.Mongo.table(col("value"))).distinct().collect()
    assert(ns.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("appdb", "users")))
    // clusterTime is the default __seq
    assert(got.map(_.getAs[Long](Changelog.SeqCol)).toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("decode drops delete-raced updates and collection-level events") {
    import spark.implicits._
    val raw = Seq(
      // update whose fullDocument lookup lost to a delete -> dropped
      """{"_id":{"_data":"82AA"},"operationType":"update","clusterTime":10,
        |"fullDocument":null,"documentKey":{"id":7},
        |"ns":{"db":"appdb","coll":"users"}}""".stripMargin.replace("\n", ""),
      // live update -> kept as +R
      """{"_id":{"_data":"82AB"},"operationType":"update","clusterTime":11,
        |"fullDocument":{"id":7,"v":"x"},"documentKey":{"id":7},
        |"ns":{"db":"appdb","coll":"users"}}""".stripMargin.replace("\n", ""),
      // collection-level signals -> dropped
      """{"_id":{"_data":"82AC"},"operationType":"drop","clusterTime":12,
        |"ns":{"db":"appdb","coll":"users"}}""".stripMargin.replace("\n", ""),
      """{"_id":{"_data":"82AD"},"operationType":"invalidate","clusterTime":13,
        |"ns":{"db":"appdb","coll":"users"}}""".stripMargin.replace("\n", ""))
      .toDF("value")
    val got = MongoChangeStreamJson.decode(raw, "value", payload).collect()
    assert(got.length === 1)
    assert(got(0).getAs[String](Changelog.OpCol) === "R")
    assert(got(0).getAs[Row](Changelog.AfterCol).getString(1) === "x")
    assert(got(0).getAs[Long](Changelog.SeqCol) === 11L)
  }

  test("round trip materializes to the same state as the direct changelog") {
    val direct = Changelog.materialize(Changelog.explode(pairedFixture), Seq("id"))
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val encoded = MongoChangeStreamJson.encode(pairedFixture, "appdb", "users", Seq("id"))
    val decoded = MongoChangeStreamJson.decode(encoded, "value", payload)
    val roundTrip = Changelog.materialize(
      Changelog.explode(decoded), Seq("id"))
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(roundTrip === direct)
    assert(roundTrip === Seq((1L, "a2")))
  }
}
