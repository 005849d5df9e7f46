package graft.streaming

import graft.SparkSpec
import graft.cdc.WireFormat
import graft.model.{TableId, TableInfo}
import graft.pipeline.{PipelineDef, SinkDef, SourceDef, YamlPipelineParser}
import graft.route.RouteRule
import graft.sinks.{ParquetUpsertSink, ValuesDatabase}
import org.apache.spark.sql.types._

/** A stream restarted on its checkpoint must give the results of one that
  * never stopped: the schema planes the runner owns come back from the
  * checkpoint, and a replayed micro-batch starts from the schema state it
  * first started from.
  */
class SchemaPlaneRestartSpec extends SparkSpec {

  private val pd = PipelineDef(SourceDef("values", Map.empty), SinkDef("values", Map.empty))
  private val tid = TableId.parse("db.users")
  private val tableInfo = TableInfo(
    StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
    primaryKeys = Seq("id"))

  private def dbz(table: String, after: String, op: String = "c", db: String = "db"): String =
    s"""{"before":null,"after":$after,"op":"$op","ts_ms":1,"source":{"db":"$db","table":"$table"}}"""
  private def dbzDdl(table: String, sql: String, db: String = "db"): String =
    s"""{"source":{"db":"$db","table":"$table"},"ddl":"$sql"}"""

  private def tempDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  /** Writes `lines` as feed file `name`, stamped `mtime` so the file
    * source discovers feed files in name order.
    */
  private def writeFeed(feed: java.io.File, name: String, mtime: Long, lines: Seq[String]): Unit = {
    val f = new java.io.File(feed, name)
    java.nio.file.Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
    f.setLastModified(mtime)
  }

  /** One query to completion over `feed` on `cp`, one file per batch. */
  private def runOnce(p: PipelineDef, sink: graft.sinks.DataSink, feed: java.io.File,
      cp: String, format: WireFormat, tables: Seq[(TableId, TableInfo)]): StreamingPipeline = {
    val sp = new StreamingPipeline(spark, p, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath, maxFilesPerTrigger = Some(1)),
      format, tables, checkpointLocation = Some(cp))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    sp
  }

  test("a routed table keeps the columns its wire DDL added across a restart") {
    val dir = tempDir("plane_routed")
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cp = new java.io.File(dir, "checkpoint").getAbsolutePath
    val routed = pd.copy(routes = Seq(RouteRule("db.users", "dw.users")))
    val dw = TableId.parse("dw.users")
    val sink = new ValuesDatabase
    writeFeed(feed, "f1.json", 1000000L, Seq(
      dbz("users", """{"id":1,"v":"a"}"""),
      dbzDdl("users", "ALTER TABLE users ADD COLUMN age INT")))
    runOnce(routed, sink, feed, cp, WireFormat.Debezium(), Seq(tid -> tableInfo))
    writeFeed(feed, "f2.json", 2000000L, Seq(
      dbz("users", """{"id":1,"v":"a2","age":11}""", op = "u")))
    runOnce(routed, sink, feed, cp, WireFormat.Debezium(), Seq(tid -> tableInfo))
    // a restart that re-created db.users would decode this row without age
    assert(sink.results(dw) === Seq("dw.users:1;a2;11"))
  }

  test("a projection's pinned sink schema does not grow after a restart") {
    val dir = tempDir("plane_projected")
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cp = new java.io.File(dir, "checkpoint").getAbsolutePath
    val projected = YamlPipelineParser.parse(
      """source: { type: values }
        |sink: { type: values }
        |transform:
        |  - source-table: db.users
        |    projection: "id, upper(v) AS vu"
        |    primary-keys: id
        |pipeline: { schema.change.behavior: evolve }
        |""".stripMargin)
    val sink = new ValuesDatabase
    writeFeed(feed, "f1.json", 1000000L, Seq(dbz("users", """{"id":1,"v":"a"}""")))
    runOnce(projected, sink, feed, cp, WireFormat.Debezium(), Seq(tid -> tableInfo))
    writeFeed(feed, "f2.json", 2000000L, Seq(
      dbzDdl("users", "ALTER TABLE users ADD COLUMN age INT"),
      dbz("users", """{"id":2,"v":"b","age":30}""")))
    val sp = runOnce(projected, sink, feed, cp, WireFormat.Debezium(), Seq(tid -> tableInfo))
    // the unreferenced column is a no-op downstream, as without a restart
    assert(sp.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("id", "vu"))
    assert(sink.info(tid).get.fieldNames === Seq("id", "vu"))
    assert(sink.results(tid).toSet === Set("db.users:1;A", "db.users:2;B"))
  }

  test("a replayed batch starts from the schema state before it") {
    // batch 1 carries ADD COLUMN age; a crash after its state was written
    // but before Spark committed it leaves offsets/1 without commits/1
    val dir = tempDir("plane_replay")
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    writeFeed(feed, "f1.json", 1000000L, Seq(
      dbz("users", """{"id":1,"v":"a"}"""), dbz("users", """{"id":2,"v":"b"}""")))
    writeFeed(feed, "f2.json", 2000000L, Seq(
      dbzDdl("users", "ALTER TABLE users ADD COLUMN age INT"),
      dbz("users", """{"id":1,"v":"a2","age":11}""", op = "u"),
      dbz("users", """{"id":3,"v":"c","age":30}""")))
    def rows(sink: ParquetUpsertSink): Set[(Long, String, Option[Int])] =
      sink.read(tid).collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        Option(r.getAs[Integer]("age")).map(_.intValue))).toSet

    val crashedDir = new java.io.File(dir, "crashed")
    val cp = new java.io.File(crashedDir, "checkpoint")
    def crashed = new ParquetUpsertSink(spark, new java.io.File(crashedDir, "sink").getAbsolutePath,
      numBuckets = 2)
    runOnce(pd, crashed, feed, cp.getAbsolutePath, WireFormat.Debezium(), Seq(tid -> tableInfo))
    assert(new java.io.File(cp, "commits/1").delete())
    new java.io.File(cp, "commits/.1.crc").delete()
    val sink = crashed
    val sp = runOnce(pd, sink, feed, cp.getAbsolutePath, WireFormat.Debezium(),
      Seq(tid -> tableInfo))
    assert(new java.io.File(cp, "commits/1").isFile) // batch 1 ran again
    assert(sp.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))

    val straightDir = new java.io.File(dir, "straight")
    val straight = new ParquetUpsertSink(spark,
      new java.io.File(straightDir, "sink").getAbsolutePath, numBuckets = 2)
    runOnce(pd, straight, feed, new java.io.File(straightDir, "checkpoint").getAbsolutePath,
      WireFormat.Debezium(), Seq(tid -> tableInfo))
    assert(rows(sink) === rows(straight))
    assert(rows(sink) === Set((1L, "a2", Some(11)), (2L, "b", None), (3L, "c", Some(30))))
  }

  test("schema state lands in a file: URI checkpoint and restores from it") {
    val dir = tempDir("plane_uri")
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cpDir = new java.io.File(dir, "checkpoint")
    val cp = cpDir.toURI.toString
    assert(cp.startsWith("file:"))
    val sink = new ValuesDatabase
    writeFeed(feed, "f1.json", 1000000L, Seq(
      dbz("users", """{"id":1,"v":"a"}"""),
      dbzDdl("users", "ALTER TABLE users ADD COLUMN age INT")))
    runOnce(pd, sink, feed, cp, WireFormat.Debezium(), Seq(tid -> tableInfo))
    val names = Option(cpDir.list()).toSeq.flatten
    assert(names.exists(_.startsWith("graft-schema-state")), names)
    assert(names.exists(_.startsWith("graft-upstream-schema")), names)
    writeFeed(feed, "f2.json", 2000000L, Seq(
      dbz("users", """{"id":1,"v":"a2","age":11}""", op = "u")))
    runOnce(pd, sink, feed, cp, WireFormat.Debezium(), Seq(tid -> tableInfo))
    assert(sink.results(tid) === Seq("db.users:1;a2;11"))
    // batch 1 changed no schema, so it wrote no state
    assert(cpDir.list().filter(_.startsWith("graft-")).sorted.toSeq ===
      Seq("graft-schema-state-0.yaml", "graft-upstream-schema-0.yaml"))
  }

  /** Renders one feed in a wire format: data records and DDL statements. */
  private trait Wire {
    def format: WireFormat
    def row(table: String, op: String, after: String): String
    def ddl(table: String, sql: String): String
  }
  private object DebeziumWire extends Wire {
    val format: WireFormat = WireFormat.Debezium()
    def row(table: String, op: String, after: String): String =
      dbz(table, after, if (op == "INSERT") "c" else "u", db = "app")
    def ddl(table: String, sql: String): String = dbzDdl(table, sql, db = "app")
  }
  private object CanalWire extends Wire {
    val format: WireFormat = WireFormat.Canal
    def row(table: String, op: String, after: String): String =
      s"""{"old":null,"data":[$after],"type":"$op","database":"app","table":"$table","pkNames":["id"]}"""
    def ddl(table: String, sql: String): String =
      s"""{"isDdl":true,"sql":"$sql","database":"app","table":"$table"}"""
  }

  /** Four feed files: two shards merging into one sink table, a projected
    * table, a routed table renamed and widened on the wire, and a table
    * the wire creates mid-stream.
    */
  private def feedFiles(w: Wire): Seq[Seq[String]] = Seq(
    Seq(
      w.row("orders_1", "INSERT", """{"id":1,"qty":10}"""),
      w.row("orders_2", "INSERT", """{"id":2,"qty":20}"""),
      w.row("items", "INSERT", """{"id":1,"name":"pen"}"""),
      w.row("users", "INSERT", """{"id":1,"v":"a"}""")),
    Seq(
      w.ddl("orders_1", "ALTER TABLE orders_1 ADD COLUMN note VARCHAR(20)"),
      w.row("orders_1", "INSERT", """{"id":3,"qty":30,"note":"n3"}"""),
      w.ddl("items", "ALTER TABLE items ADD COLUMN age INT"),
      w.row("items", "INSERT", """{"id":2,"name":"ink","age":5}"""),
      w.ddl("users", "ALTER TABLE users ADD COLUMN age INT"),
      w.row("users", "UPDATE", """{"id":1,"v":"a2","age":11}""")),
    Seq(
      w.ddl("users", "ALTER TABLE users RENAME COLUMN v TO name"),
      w.row("users", "UPDATE", """{"id":1,"name":"a3","age":12}"""),
      w.ddl("products", "CREATE TABLE products (id BIGINT PRIMARY KEY, name VARCHAR(20))"),
      w.row("products", "INSERT", """{"id":100,"name":"widget"}"""),
      w.row("orders_2", "INSERT", """{"id":4,"qty":40}""")),
    Seq(
      w.row("products", "UPDATE", """{"id":100,"name":"gadget"}"""),
      w.ddl("orders_2", "ALTER TABLE orders_2 RENAME COLUMN qty TO quantity"),
      w.row("orders_2", "INSERT", """{"id":5,"quantity":50}"""),
      w.row("items", "INSERT", """{"id":3,"name":"cap","age":7}"""),
      w.row("users", "INSERT", """{"id":2,"name":"b","age":20}""")))

  for (w <- Seq(DebeziumWire, CanalWire)) {
    test(s"restarting after every file equals one uninterrupted run (${w.format})") {
      val p = YamlPipelineParser.parse(
        """source: { type: values }
          |sink: { type: values }
          |transform:
          |  - source-table: app.items
          |    projection: "id, upper(name) AS nm"
          |    primary-keys: id
          |""".stripMargin).copy(
        source = SourceDef("values", Map("scan.newly-added-table.enabled" -> "true")),
        routes = Seq(RouteRule("app.orders_\\.*", "dw.orders"), RouteRule("app.users", "dw.users")))
      val orderInfo = TableInfo(
        StructType(Seq(StructField("id", LongType), StructField("qty", LongType))),
        primaryKeys = Seq("id"))
      val tables = Seq(
        TableId.parse("app.orders_1") -> orderInfo,
        TableId.parse("app.orders_2") -> orderInfo,
        TableId.parse("app.items") -> TableInfo(
          StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
          primaryKeys = Seq("id")),
        TableId.parse("app.users") -> tableInfo)
      val sinkTables = Seq("dw.orders", "app.items", "dw.users", "app.products")
        .map(TableId.parse)
      val files = feedFiles(w)

      def run(restartEveryFile: Boolean): ValuesDatabase = {
        val dir = tempDir("plane_equiv")
        val feed = new java.io.File(dir, "feed"); feed.mkdirs()
        val cp = new java.io.File(dir, "checkpoint").getAbsolutePath
        val sink = new ValuesDatabase
        files.zipWithIndex.foreach { case (lines, i) =>
          writeFeed(feed, s"f$i.json", 1000000L * (i + 1), lines)
          if (restartEveryFile) runOnce(p, sink, feed, cp, w.format, tables)
        }
        if (!restartEveryFile) runOnce(p, sink, feed, cp, w.format, tables)
        sink
      }
      val straight = run(restartEveryFile = false)
      val restarted = run(restartEveryFile = true)
      sinkTables.foreach { t =>
        assert(restarted.info(t).map(_.schema) === straight.info(t).map(_.schema), t)
        assert(restarted.results(t).sorted === straight.results(t).sorted, t)
      }
      // the feed reached every sink table, the captured one included
      assert(straight.results(TableId.parse("app.products")) ===
        Seq("app.products:100;gadget"))
      assert(straight.info(TableId.parse("app.items")).get.fieldNames === Seq("id", "nm"))
    }
  }
}
