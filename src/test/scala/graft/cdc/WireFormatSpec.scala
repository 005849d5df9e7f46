package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Each wire format reads its own envelope paths: the table, database
  * and DDL statement of every envelope shape it consumes, and nothing of
  * another format's records.
  */
class WireFormatSpec extends SparkSpec {
  import spark.implicits._

  private val schema = """{"type":"struct","fields":[],"optional":false}"""
  private def wrapped(payload: String) = s"""{"schema":$schema,"payload":$payload}"""

  private val dbzData =
    """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db1","table":"users"}}"""
  private val dbzDdl =
    """{"source":{"db":"db1","table":"users"},"ddl":"ALTER TABLE users ADD COLUMN age INT"}"""
  private val dbzHistory =
    """{"source":{"db":"db1","table":"users"},"historyRecord":{"ddl":"DROP TABLE users"}}"""
  private val canalData =
    """{"old":null,"data":[{"id":1,"v":"a"}],"type":"INSERT","database":"db1","table":"users","isDdl":false}"""
  private val canalDdl =
    """{"isDdl":true,"sql":"ALTER TABLE users ADD COLUMN age INT","database":"db1","table":"users"}"""
  private val mongoData =
    """{"_id":{"_data":"8201"},"operationType":"insert","clusterTime":1,"fullDocument":{"id":1,"v":"a"},"ns":{"db":"db1","coll":"users"}}"""

  private val alter = "ALTER TABLE users ADD COLUMN age INT"

  // (case, format, envelope, table, database, ddl); a ddl of None means
  // the format has no DDL channel, Some(null) a record that carries none
  private val cases: Seq[(String, WireFormat, String, String, String, Option[String])] = Seq(
    ("debezium flat data", WireFormat.Debezium(), dbzData, "users", "db1", Some(null)),
    ("debezium flat schema change", WireFormat.Debezium(), dbzDdl, "users", "db1", Some(alter)),
    ("debezium flat history record", WireFormat.Debezium(), dbzHistory, "users", "db1",
      Some("DROP TABLE users")),
    ("debezium wrapped data", WireFormat.Debezium(schemaInclude = true), wrapped(dbzData),
      "users", "db1", Some(null)),
    ("debezium wrapped schema change", WireFormat.Debezium(schemaInclude = true),
      wrapped(dbzDdl), "users", "db1", Some(alter)),
    ("debezium schema-include over a flat record", WireFormat.Debezium(schemaInclude = true),
      dbzDdl, "users", "db1", Some(alter)),
    ("canal data", WireFormat.Canal, canalData, "users", "db1", Some(null)),
    ("canal isDdl", WireFormat.Canal, canalDdl, "users", "db1", Some(alter)),
    ("mongo", WireFormat.Mongo, mongoData, "users", "db1", None),
    ("canal record read as debezium", WireFormat.Debezium(), canalDdl, null, null, Some(null)),
    ("debezium record read as canal", WireFormat.Canal, dbzDdl, null, null, Some(null)),
    ("debezium record read as mongo", WireFormat.Mongo, dbzData, null, null, None),
    ("mongo record read as canal", WireFormat.Canal, mongoData, null, null, Some(null)))

  for ((name, format, envelope, table, database, ddl) <- cases)
    test(s"$name: table, database and ddl") {
      val value = col("value")
      val row = Seq(envelope).toDF("value")
        .select(format.table(value), format.database(value),
          format.ddl(value).getOrElse(lit(null).cast("string")))
        .head()
      assert(row.getString(0) === table)
      assert(row.getString(1) === database)
      assert(format.ddl(value).isDefined === ddl.isDefined)
      ddl.foreach(stmt => assert(row.getString(2) === stmt))
    }
}
