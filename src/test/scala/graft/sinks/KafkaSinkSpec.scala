package graft.sinks

import graft.SparkSpec
import graft.cdc.{Changelog, DebeziumJson}
import graft.model.{TableId, TableInfo}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class KafkaSinkSpec extends SparkSpec {
  import spark.implicits._

  private val tid = TableId.parse("graft.users")
  private val tinfo = TableInfo(
    StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
    primaryKeys = Seq("id"))

  private def batch() = Seq(
    (1L, "a", "+I", 1L),
    (2L, "b", "+I", 2L),
    (1L, "a", "-U", 3L), (1L, "a2", "+U", 3L),
    (2L, "b", "-D", 4L)
  ).toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)

  test("debezium-json records: topic routing, key hashing, order") {
    val dir = java.nio.file.Files.createTempDirectory("kafka").toFile
    val writer = new FileTopicWriter(spark, dir.getAbsolutePath)
    val sink = new KafkaSink(writer, Map(
      "partition.strategy" -> "hash-by-key",
      "sink.tableId-to-topic.mapping" -> "graft.nope:t0;graft.\\.*:users_topic",
      "sink.add-tableId-to-header-enabled" -> "true",
      "sink.custom-header" -> "env:test"))
    assert(sink.topicFor(tid) === "users_topic")
    sink.write(tid, batch(), tinfo)

    val recs = writer.read("users_topic").orderBy("__segment")
      .collect()
    assert(recs.length === 4) // I, I, U(paired), D
    val keys = recs.map(_.getAs[String]("key")).toSet
    // JsonSerializationSchema.java:128-133: TableId rides first, then pks
    assert(keys === Set(
      """{"TableId":"graft.users","id":1}""",
      """{"TableId":"graft.users","id":2}"""))
    val headers = recs.head.getAs[Map[String, String]]("headers")
    assert(headers === Map("env" -> "test", "tableId" -> "graft.users"))
    // values decode back to the same final state, ordered by the carried
    // offset (real Kafka: the per-partition offset, aligned with the PK
    // by hash-by-key)
    val decoded = DebeziumJson.decode(
      writer.read("users_topic").select(col("value"), col("offset")),
      "value", tinfo.schema, seqCol = Some("offset"))
    val state = Changelog.materialize(
      Changelog.explode(decoded.drop(Changelog.MetaCol)),
      Seq("id"))
    assert(state.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
      === Seq((1L, "a2")))
  }

  test("canal-json value format round-trips through the canal decoder") {
    val dir = java.nio.file.Files.createTempDirectory("kafka_canal").toFile
    val writer = new FileTopicWriter(spark, dir.getAbsolutePath)
    val sink = new KafkaSink(writer, Map("value.format" -> "canal-json"))
    sink.write(tid, batch(), tinfo)
    val recs = writer.read("graft.users") // default topic = table identifier
    val decoded = graft.cdc.CanalJson.decode(
      recs.select(col("value"), col("offset")), "value", tinfo.schema,
      seqCol = Some("offset"))
    assert(decoded.where(col(Changelog.OpCol) === "U").count() === 1)
    assert(decoded.where(col(Changelog.OpCol) === "D").count() === 1)
    val state = Changelog.materialize(
      Changelog.explode(decoded), Seq("id"))
    assert(state.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
      === Seq((1L, "a2")))
  }

  test("hash-by-key keeps per-key order with no global sort in the plan") {
    // capture the produced frame instead of writing it, to audit the plan
    var produced: org.apache.spark.sql.DataFrame = null
    val capture = new KafkaRecordWriter {
      def produce(records: org.apache.spark.sql.DataFrame): Unit = { produced = records }
    }
    val sink = new KafkaSink(capture, Map("partition.strategy" -> "hash-by-key"))
    // multi-key batch: 3 keys, interleaved changes
    val df = Seq(
      (1L, "a", "+I", 1L), (2L, "x", "+I", 2L), (3L, "p", "+I", 3L),
      (1L, "a", "-U", 4L), (1L, "b", "+U", 4L),
      (2L, "x", "-D", 5L),
      (3L, "p", "-U", 6L), (3L, "q", "+U", 6L),
      (1L, "b", "-U", 7L), (1L, "c", "+U", 7L)
    ).toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, df, tinfo)

    val plan = produced.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"hash-by-key must not range-shuffle for a global sort:\n$plan")
    // per-key order: within each spark partition (= kafka partition under
    // hash-by-key), each key's offsets must be non-decreasing in row order
    val rows = produced.select(col("key"), col("offset"))
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        it.map(r => (pid, r.getString(0), r.getLong(1)))
      }.collect()
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, keyRows) =>
      val offsets = keyRows.map(_._3).toSeq
      assert(offsets === offsets.sorted, s"per-key offsets out of order: $offsets")
    }
    // and every key lives in exactly one partition
    rows.groupBy(_._2).foreach { case (k, keyRows) =>
      assert(keyRows.map(_._1).distinct.length === 1, s"key $k spans partitions")
    }
  }

  test("option validation fails fast") {
    val writer = new FileTopicWriter(spark, "/tmp/unused")
    assertThrows[IllegalArgumentException](
      new KafkaSink(writer, Map("value.format" -> "avro")))
    assertThrows[IllegalArgumentException](
      new KafkaSink(writer, Map("partition.strategy" -> "round-robin")))
    // KafkaDataSinkOptions.java:38 sink.delivery-guarantee: accepted and
    // validated (the file shim behaves at-least-once; a real Kafka writer
    // honors it)
    assertThrows[IllegalArgumentException](
      new KafkaSink(writer, Map("sink.delivery-guarantee" -> "maybe-once")))
    new KafkaSink(writer, Map("sink.delivery-guarantee" -> "exactly-once"))
    new KafkaSink(writer, Map("sink.delivery-guarantee" -> "none"))
    new KafkaSink(writer, Map("sink.delivery-guarantee" -> "at-least-once"))
  }

  test("key serializers match the reference's serializer unit tests") {
    // port of JsonSerializationSchemaTest + CsvSerializationSchemaTest
    // (kafka connector src/test): string pk col1, table
    // default_namespace.default_schema.table1; insert 1, insert 2,
    // delete 2 (key from the BEFORE image), update 1 (key from after)
    val tid = TableId.parse("default_namespace.default_schema.table1")
    val info = TableInfo(
      StructType(Seq(StructField("col1", StringType), StructField("col2", StringType))),
      primaryKeys = Seq("col1"))
    val batch = Seq(
      ("1", "1", "+I", 1L),
      ("2", "2", "+I", 2L),
      ("2", "2", "-D", 3L),
      ("1", "1", "-U", 4L), ("1", "x", "+U", 4L)
    ).toDF("col1", "col2", Changelog.OpCol, Changelog.SeqCol)

    def keysWith(opts: Map[String, String]): Seq[String] = {
      var produced: org.apache.spark.sql.DataFrame = null
      val capture = new KafkaRecordWriter {
        def produce(records: org.apache.spark.sql.DataFrame): Unit = { produced = records }
      }
      new KafkaSink(capture, opts).write(tid, batch, info)
      produced.orderBy("offset").select("key").collect().map(_.getString(0)).toSeq
    }

    // JSON (the default): {"TableId":...,"col1":...}
    assert(keysWith(Map.empty) === Seq(
      """{"TableId":"default_namespace.default_schema.table1","col1":"1"}""",
      """{"TableId":"default_namespace.default_schema.table1","col1":"2"}""",
      """{"TableId":"default_namespace.default_schema.table1","col1":"2"}""",
      """{"TableId":"default_namespace.default_schema.table1","col1":"1"}"""))
    // CSV: the 40-char identifier exceeds Jackson's 24-char quote-check
    // window and rides quoted; the short pk value does not
    assert(keysWith(Map("key.format" -> "csv")) === Seq(
      "\"default_namespace.default_schema.table1\",1",
      "\"default_namespace.default_schema.table1\",2",
      "\"default_namespace.default_schema.table1\",2",
      "\"default_namespace.default_schema.table1\",1"))
    // csv quoting edge: a pk value containing the separator or quote
    val tricky = Seq(("a,b", "v", "+I", 1L), ("say \"hi\"", "v", "+I", 2L))
      .toDF("col1", "col2", Changelog.OpCol, Changelog.SeqCol)
    var produced: org.apache.spark.sql.DataFrame = null
    val capture = new KafkaRecordWriter {
      def produce(records: org.apache.spark.sql.DataFrame): Unit = { produced = records }
    }
    new KafkaSink(capture, Map("key.format" -> "csv")).write(tid, tricky, info)
    assert(produced.orderBy("offset").select("key").collect().map(_.getString(0)).toSeq === Seq(
      "\"default_namespace.default_schema.table1\",\"a,b\"",
      "\"default_namespace.default_schema.table1\",\"say \"\"hi\"\"\""))
    assertThrows[IllegalArgumentException](
      new KafkaSink(capture, Map("key.format" -> "avro")))
  }

  // ---- mysqlToKafka e2e golden byte-compare ----------------------------
  //
  // The reference's MysqlToKafkaE2eITCase drives ddl/mysql_inventory.sql
  // through its Kafka sink and asserts the topic contents equal
  // expectedEvents/mysqlToKafka/{debezium-json,canal-json,
  // debezium-json-with-schema}.txt. Same protocol here: the ported DDL
  // builds the TableInfos through DdlParser, the ported change history
  // replays through KafkaSink, and every produced value must byte-match a
  // golden line (compared as sorted multisets — the goldens are written
  // in nondeterministic topic-poll order).

  private def goldenLines(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/goldens/mysqlToKafka/$name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.startsWith("{")).toVector
    finally in.close()
  }

  // ddl/mysql_inventory.sql:21-29,44-49 (ported verbatim)
  private val productsDdl =
    """CREATE TABLE products (
      |  id INTEGER NOT NULL AUTO_INCREMENT PRIMARY KEY,
      |  name VARCHAR(255) NOT NULL DEFAULT 'flink',
      |  description VARCHAR(512),
      |  weight FLOAT,
      |  enum_c enum('red', 'white') default 'red',
      |  json_c JSON,
      |  point_c POINT
      |)""".stripMargin
  private val customersDdl =
    """CREATE TABLE customers (
      |  id INTEGER NOT NULL PRIMARY KEY,
      |  name VARCHAR(255) NOT NULL DEFAULT 'flink',
      |  address VARCHAR(1024),
      |  phone_number VARCHAR(512)
      |)""".stripMargin

  private def infoOf(ddl: String, table: String): TableInfo = {
    val Seq(ev: graft.model.CreateTableEvent) =
      graft.cdc.DdlParser.parse(ddl, TableId.parse(s"$$databaseName.$table"))
    ev.info
  }

  /** The e2e scenario's change history (MysqlToKafkaE2eITCase:
    * snapshot inserts, two binlog updates, an ADD COLUMN, two more
    * inserts, two updates, a delete), as exploded changelog batches.
    */
  private def goldenBatches(): Seq[(TableId, org.apache.spark.sql.DataFrame, TableInfo)] = {
    val customersT = TableId.parse("$databaseName.customers")
    val productsT = TableId.parse("$databaseName.products")
    val customers = infoOf(customersDdl, "customers")
    val productsV1 = infoOf(productsDdl, "products")
    val Seq(add: graft.model.AddColumnEvent) = graft.cdc.DdlParser.parse(
      "ALTER TABLE products ADD COLUMN new_col INT", productsT)
    val productsV2 = productsV1.applySchemaChange(add)

    val customersRows = Seq(
      (101, "user_1"), (102, "user_2"), (103, "user_3"), (104, "user_4"))
      .zipWithIndex.map { case ((id, n), i) =>
        Row(id, n, "Shanghai", "123567891234", "+I", i.toLong)
      }
    val p = Seq(
      Row(101, "scooter", "Small 2-wheel scooter", 3.14f, "red",
        """{"key1": "value1"}""", """{"coordinates":[1,1],"type":"Point","srid":0}"""),
      Row(102, "car battery", "12V car battery", 8.1f, "white",
        """{"key2": "value2"}""", """{"coordinates":[2,2],"type":"Point","srid":0}"""),
      Row(103, "12-pack drill bits",
        "12-pack of drill bits with sizes ranging from #40 to #3", 0.8f, "red",
        """{"key3": "value3"}""", """{"coordinates":[3,3],"type":"Point","srid":0}"""),
      Row(104, "hammer", "12oz carpenter's hammer", 0.75f, "white",
        """{"key4": "value4"}""", """{"coordinates":[4,4],"type":"Point","srid":0}"""),
      Row(105, "hammer", "14oz carpenter's hammer", 0.875f, "red",
        """{"k1": "v1", "k2": "v2"}""", """{"coordinates":[5,5],"type":"Point","srid":0}"""),
      Row(106, "hammer", "16oz carpenter's hammer", 1.0f, null, null, null),
      Row(107, "rocks", "box of assorted rocks", 5.3f, null, null, null),
      Row(108, "jacket", "water resistent black wind breaker", 0.1f, null, null, null),
      Row(109, "spare tire", "24 inch spare tire", 22.2f, null, null, null))
    val v1Rows =
      p.zipWithIndex.map { case (r, i) => Row(r.toSeq :+ "+I" :+ i.toLong: _*) } ++ Seq(
        Row(106, "hammer", "16oz carpenter's hammer", 1.0f, null, null, null, "-U", 9L),
        Row(106, "hammer", "18oz carpenter hammer", 1.0f, null, null, null, "+U", 9L),
        Row(107, "rocks", "box of assorted rocks", 5.3f, null, null, null, "-U", 10L),
        Row(107, "rocks", "box of assorted rocks", 5.1f, null, null, null, "+U", 10L))
    val v2Rows = Seq(
      Row(110, "jacket", "water resistent white wind breaker", 0.2f, null, null, null, 1, "+I", 11L),
      Row(111, "scooter", "Big 2-wheel scooter ", 5.18f, null, null, null, 1, "+I", 12L),
      Row(110, "jacket", "water resistent white wind breaker", 0.2f, null, null, null, 1, "-U", 13L),
      Row(110, "jacket", "new water resistent white wind breaker", 0.5f, null, null, null, 1, "+U", 13L),
      Row(111, "scooter", "Big 2-wheel scooter ", 5.18f, null, null, null, 1, "-U", 14L),
      Row(111, "scooter", "Big 2-wheel scooter ", 5.17f, null, null, null, 1, "+U", 14L),
      Row(111, "scooter", "Big 2-wheel scooter ", 5.17f, null, null, null, 1, "-D", 15L))

    def frame(rows: Seq[Row], info: TableInfo) = {
      val schema = StructType(info.schema.fields.map(_.copy(nullable = true)) ++ Seq(
        StructField(Changelog.OpCol, StringType), StructField(Changelog.SeqCol, LongType)))
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }
    Seq(
      (customersT, frame(customersRows, customers), customers),
      (productsT, frame(v1Rows, productsV1), productsV1),
      (productsT, frame(v2Rows, productsV2), productsV2))
  }

  private def runGolden(golden: String, options: Map[String, String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("kafka_golden").toFile
    val writer = new FileTopicWriter(spark, dir.getAbsolutePath)
    val sink = new KafkaSink(writer, options + ("topic" -> "all"))
    goldenBatches().foreach { case (tid, batch, info) => sink.write(tid, batch, info) }
    val produced = writer.read("all").select("value")
      .collect().map(_.getString(0)).toSeq
    assert(produced.sorted === goldenLines(golden).sorted)
  }

  test("debezium-json values byte-match the mysqlToKafka e2e golden") {
    runGolden("debezium-json.txt", Map.empty)
  }

  test("debezium-json include-schema values byte-match the with-schema e2e golden") {
    runGolden("debezium-json-with-schema.txt",
      Map("debezium-json.include-schema.enabled" -> "true"))
  }

  test("canal-json values byte-match the mysqlToKafka e2e golden") {
    runGolden("canal-json.txt", Map("value.format" -> "canal-json"))
  }
}
