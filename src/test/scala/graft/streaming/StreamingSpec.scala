package graft.streaming

import graft.SparkSpec
import graft.cdc.WireFormat
import graft.model.{TableId, TableInfo}
import graft.pipeline.{PipelineDef, PipelineRunner, SinkDef, SourceDef}
import graft.sinks.ValuesDatabase
import graft.sources.{HybridSnapshotSource, JdbcChunkSplitter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val pd = PipelineDef(SourceDef("values", Map.empty), SinkDef("values", Map.empty))
  private val tid = TableId.parse("db.users")
  private val tableInfo = TableInfo(
    StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
    primaryKeys = Seq("id"))
  // the Connect schema block of a schema-wrapped record ({"schema":..,"payload":..})
  private val sch = """{"type":"struct","fields":[],"optional":false}"""

  test("debezium-json stream drives the pipeline through foreachBatch") {
    val dir = java.nio.file.Files.createTempDirectory("dbz").toFile
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":3,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":2,"v":"b"},"after":null,"op":"d","ts_ms":4,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(
      new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val sink = new ValuesDatabase
    val q = new StreamingPipeline(spark, pd, sink).startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo)
    q.awaitTermination(60000)
    assert(sink.results(tid) === Seq("db.users:1;a2"))
  }

  test("schema-wrapped debezium stream (schemas.enable topics) drives the same pipeline") {
    // a Connect schema-wrapped topic ({"schema":..,"payload":..}) with a
    // flat record mixed in — both shapes decode under schema-include
    val dir = java.nio.file.Files.createTempDirectory("dbz_wrapped").toFile
    val lines = Seq(
      s"""{"schema":$sch,"payload":{"before":null,"after":{"id":1,"v":"a"},"op":"c","source":{"db":"db","table":"users"}}}""",
      s"""{"schema":$sch,"payload":{"before":null,"after":{"id":2,"v":"b"},"op":"c","source":{"db":"db","table":"users"}}}""",
      """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":3,"source":{"db":"db","table":"users"}}""",
      s"""{"schema":$sch,"payload":{"before":{"id":2,"v":"b"},"after":null,"op":"d","source":{"db":"db","table":"users"}}}""")
    java.nio.file.Files.write(
      new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val sink = new ValuesDatabase
    val q = new StreamingPipeline(spark, pd, sink).startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo,
      schemaInclude = true)
    q.awaitTermination(60000)
    assert(sink.results(tid) === Seq("db.users:1;a2"))

    // a wrapped two-table topic routes by the table inside the payload
    val multiDir = java.nio.file.Files.createTempDirectory("dbz_wrapped_multi").toFile
    val tidB = TableId.parse("db.orders")
    val infoB = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("amt", LongType))),
      primaryKeys = Seq("id"))
    java.nio.file.Files.write(new java.io.File(multiDir, "feed.json").toPath, Seq(
      s"""{"schema":$sch,"payload":{"before":null,"after":{"id":1,"v":"a"},"op":"c","source":{"db":"db","table":"users"}}}""",
      s"""{"schema":$sch,"payload":{"before":null,"after":{"id":10,"amt":5},"op":"c","source":{"db":"db","table":"orders"}}}""",
      s"""{"schema":$sch,"payload":{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","source":{"db":"db","table":"users"}}}""")
      .mkString("\n").getBytes("UTF-8"))
    val multiSink = new ValuesDatabase
    val mq = new StreamingPipeline(spark, pd, multiSink).start(
      StreamingPipeline.fileJsonStream(spark, multiDir.getAbsolutePath),
      WireFormat.Debezium(schemaInclude = true), Seq(tid -> tableInfo, tidB -> infoB))
    mq.awaitTermination(60000)
    assert(multiSink.results(tid) === Seq("db.users:1;a2"))
    assert(multiSink.results(tidB) === Seq("db.orders:10;5"))
  }

  test("incremental dedup over micro-batches keeps the growing corpus near-dup-free") {
    // the production ingestion loop: each micro-batch dedups against the
    // accumulated kept corpus (ops.Dedup.incrementalKeep) and appends its
    // survivors — per-batch cost scales with the batch, never the corpus
    val root = java.nio.file.Files.createTempDirectory("inc_dedup").toFile
    val feed = new java.io.File(root, "feed"); feed.mkdirs()
    val baseDir = new java.io.File(root, "base")
    val docsA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val novel = "one two three four five six seven eight nine ten eleven twelve"
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(new java.io.File(feed, name).toPath,
        rows.map { case (i, t) => s"$i|$t" }.mkString("\n").getBytes("UTF-8"))
    val q = spark.readStream.format("text").load(feed.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val docs = df.select(
          split(col("value"), "\\|")(0).cast("long").as("doc_id"),
          split(col("value"), "\\|")(1).as("text"))
        val base =
          if (baseDir.exists())
            spark.read.parquet(baseDir.getAbsolutePath)
          else {
            import spark.implicits._
            Seq.empty[(Long, String)].toDF("doc_id", "text")
          }
        graft.ops.Dedup.incrementalKeep(docs, "doc_id", base, "doc_id", "text",
            threshold = 0.5)
          .write.mode("append").parquet(baseDir.getAbsolutePath)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50)).start()
    // batch 1: a doc and an intra-batch near-dup of it
    write("b0.txt", Seq(1L -> docsA, 2L -> docsA.replace("kappa", "kappa9")))
    q.processAllAvailable()
    // batch 2: a near-dup of the KEPT doc 1 (dropped against the base), a
    // novel doc, and a near-dup of that novel doc (intra-batch drop)
    write("b1.txt", Seq(10L -> docsA.replace("mu", "mu9"), 11L -> novel,
      12L -> novel.replace("twelve", "twenty")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(baseDir.getAbsolutePath)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 11L))
  }

  test("checkpoint resume: restarted stream processes only new data") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_cp").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cp = new java.io.File(dir, "checkpoint").getAbsolutePath

    final class CountingSink extends graft.sinks.DataSink {
      val inner = new ValuesDatabase
      var writes = 0
      override def applySchemaChange(e: graft.model.SchemaChangeEvent): Unit =
        inner.applySchemaChange(e)
      override def write(tableId: TableId, exploded: org.apache.spark.sql.DataFrame,
          info: TableInfo): Unit = { writes += 1; inner.write(tableId, exploded, info) }
    }

    def writeFeed(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(feed, name).toPath,
        lines.mkString("\n").getBytes("UTF-8"))

    writeFeed("f1.json", Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}"""))
    val sink1 = new CountingSink
    val q1 = new StreamingPipeline(spark, pd, sink1).startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath),
      tid, tableInfo, checkpointLocation = Some(cp))
    q1.awaitTermination(60000)
    assert(sink1.writes === 1)
    assert(sink1.inner.results(tid).toSet === Set("db.users:1;a", "db.users:2;b"))

    // new data lands; a restarted query (same checkpoint) must see ONLY it
    writeFeed("f2.json", Seq(
      """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":3,"source":{"db":"db","table":"users"}}"""))
    val sink2 = new CountingSink
    val q2 = new StreamingPipeline(spark, pd, sink2).startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath),
      tid, tableInfo, checkpointLocation = Some(cp))
    q2.awaitTermination(60000)
    assert(sink2.writes === 1) // f1 was not reprocessed
    assert(sink2.inner.results(tid).toSet === Set("db.users:1;a2"))
  }

  test("mid-stream ALTER TABLE from the wire: schema widens at the DDL's log position") {
    // ONE batch: inserts, then ALTER TABLE ADD COLUMN mid-file, then rows
    // carrying the new column — the segment before the DDL must decode
    // without `age`, the segment after with it
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""",
      // DDL for a DIFFERENT captured table rides the same schema-change
      // feed and must be ignored for this pipeline table
      """{"source":{"db":"db","table":"other"},"ddl":"ALTER TABLE other ADD COLUMN zzz INT"}""",
      """{"source":{"db":"db","table":"users"},"ddl":"ALTER TABLE `db`.`users` ADD COLUMN `age` INT","tableChanges":[]}""",
      """{"before":null,"after":{"id":3,"v":"c","age":30},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":1,"v":"a","age":null},"after":{"id":1,"v":"a2","age":11},"op":"u","ts_ms":4,"source":{"db":"db","table":"users"}}""")
    // the same feed flat, and Connect schema-wrapped under schema-include
    for ((feed, wrapped) <- Seq(lines -> false,
        lines.map(l => s"""{"schema":$sch,"payload":$l}""") -> true)) {
      val dir = java.nio.file.Files.createTempDirectory("dbz_ddl").toFile
      java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
        feed.mkString("\n").getBytes("UTF-8"))

      val sink = new ValuesDatabase
      val sp = new StreamingPipeline(spark, pd, sink)
      val q = sp.startFromDebeziumJson(
        StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo,
        schemaInclude = wrapped)
      q.awaitTermination(60000)
      // the wire DDL evolved both planes and reached the sink; the other
      // table's DDL left no trace
      assert(sp.runner.registry.originalInfo(tid).get.fieldNames === Seq("id", "v", "age"))
      assert(sink.info(tid).get.fieldNames === Seq("id", "v", "age"))
      assert(!sp.runner.sourcePlane.evolvedInfo(tid).get.fieldNames.contains("zzz"))
      // oracle materialization: id1 updated post-DDL with age, id2 pre-DDL
      // (age null-fills), id3 inserted with age
      assert(sink.results(tid).toSet === Set(
        "db.users:1;a2;11", "db.users:2;b;null", "db.users:3;c;30"))
    }
  }

  test("wire ALTER through an explicit transform projection: sink schema stays pinned") {
    // streaming integration of the runner's derived-DDL layering: an
    // upstream ADD COLUMN arriving on the wire is a no-op downstream when
    // the transform's explicit projection doesn't reference it, while
    // post-DDL rows (now carrying the column) still decode and project
    val dir = java.nio.file.Files.createTempDirectory("dbz_tddl").toFile
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"users"},"ddl":"ALTER TABLE `db`.`users` ADD COLUMN `age` INT","tableChanges":[]}""",
      """{"before":null,"after":{"id":2,"v":"b","age":30},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val tpd = graft.pipeline.YamlPipelineParser.parse(
      """source: { type: values }
        |sink: { type: values }
        |transform:
        |  - source-table: db.users
        |    projection: "id, upper(v) AS vu"
        |    primary-keys: id
        |pipeline: { schema.change.behavior: evolve }
        |""".stripMargin)
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, tpd, sink)
    val q = sp.startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo)
    q.awaitTermination(60000)
    // upstream plane evolved; the projected sink schema did not
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sink.info(tid).get.fieldNames === Seq("id", "vu"))
    assert(sink.results(tid).toSet === Set("db.users:1;A", "db.users:2;B"))
  }

  test("wire DDL + checkpoint restart: evolved schema survives, only new data processes") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_ddl_cp").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cp = new java.io.File(dir, "checkpoint").getAbsolutePath
    def writeFeed(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(feed, name).toPath,
        lines.mkString("\n").getBytes("UTF-8"))

    // run 1: insert, then DDL, then a row using the new column
    writeFeed("f1.json", Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"users"},"ddl":"ALTER TABLE users ADD COLUMN age INT"}""",
      """{"before":null,"after":{"id":2,"v":"b","age":20},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}"""))
    val sink1 = new ValuesDatabase
    val q1 = new StreamingPipeline(spark, pd, sink1).startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath),
      tid, tableInfo, checkpointLocation = Some(cp))
    q1.awaitTermination(60000)
    assert(sink1.results(tid).toSet === Set("db.users:1;a;null", "db.users:2;b;20"))

    // run 2 (fresh pipeline, same checkpoint): rows with the new column
    // must decode correctly — the evolved schema came from checkpoint
    // state, not a re-synthesized CreateTable
    writeFeed("f2.json", Seq(
      """{"before":{"id":1,"v":"a","age":null},"after":{"id":1,"v":"a2","age":11},"op":"u","ts_ms":3,"source":{"db":"db","table":"users"}}"""))
    val sink2 = new ValuesDatabase
    val sp2 = new StreamingPipeline(spark, pd, sink2)
    val q2 = sp2.startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath),
      tid, tableInfo, checkpointLocation = Some(cp))
    q2.awaitTermination(60000)
    assert(sp2.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sink2.results(tid).toSet === Set("db.users:1;a2;11"))
  }

  test("wire TRUNCATE TABLE clears sink state at its log position") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_trunc").toFile
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"users"},"ddl":"TRUNCATE TABLE users"}""",
      """{"before":null,"after":{"id":3,"v":"c"},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    // LENIENT defaults to excluding truncate.table (the reference's
    // SinkDef resolution); an explicit empty exclude opts back in
    val pdTrunc = pd.copy(sink =
      SinkDef("values", Map("exclude.schema.changes" -> "")))
    val q = new StreamingPipeline(spark, pdTrunc, sink).startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo)
    q.awaitTermination(60000)
    // rows 1-2 applied, wiped by the truncate, row 3 survives
    assert(sink.results(tid) === Seq("db.users:3;c"))
  }

  test("wire TRUNCATE under default LENIENT is absorbed (reference exclude default)") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_trunc_dflt").toFile
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"users"},"ddl":"TRUNCATE TABLE users"}""",
      """{"before":null,"after":{"id":3,"v":"c"},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val q = new StreamingPipeline(spark, pd, sink).startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo)
    q.awaitTermination(60000)
    // lenient never truncates sink tables by default — both rows survive
    assert(sink.results(tid).toSet === Set("db.users:1;a", "db.users:3;c"))
  }

  test("multi-table topic: records route per table, DDL segments only its own table") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_multi").toFile
    val tidB = TableId.parse("db.orders")
    val infoB = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("amt", LongType))),
      primaryKeys = Seq("id"))
    // one interleaved feed: users rows, an orders row, ALTER on users
    // (orders must keep decoding with its original schema and must NOT
    // pick up users' DDL), post-DDL users row with the new column, a
    // second orders row
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":10,"amt":100},"op":"c","ts_ms":2,"source":{"db":"db","table":"orders"}}""",
      """{"source":{"db":"db","table":"users"},"ddl":"ALTER TABLE users ADD COLUMN age INT"}""",
      """{"before":null,"after":{"id":2,"v":"b","age":22},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":10,"amt":100},"after":{"id":10,"amt":150},"op":"u","ts_ms":4,"source":{"db":"db","table":"orders"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo, tidB -> infoB))
    q.awaitTermination(60000)
    // users evolved; orders untouched by the users DDL
    assert(sp.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sp.runner.registry.evolvedInfo(tidB).get.fieldNames === Seq("id", "amt"))
    assert(sink.results(tid).toSet === Set("db.users:1;a;null", "db.users:2;b;22"))
    assert(sink.results(tidB).toSet === Set("db.orders:10;150"))
  }

  test("same table name in two databases routes by full id, not bare name") {
    // db1.users and db2.users are DIFFERENT tables: each must receive only
    // its own database's rows, and db1's ALTER must not evolve db2
    val dir = java.nio.file.Files.createTempDirectory("dbz_twodb").toFile
    val tid1 = TableId.parse("db1.users")
    val tid2 = TableId.parse("db2.users")
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db1","table":"users"}}""",
      """{"before":null,"after":{"id":1,"v":"x"},"op":"c","ts_ms":2,"source":{"db":"db2","table":"users"}}""",
      """{"source":{"db":"db1","table":"users"},"ddl":"ALTER TABLE users ADD COLUMN age INT"}""",
      """{"before":null,"after":{"id":2,"v":"b","age":22},"op":"c","ts_ms":3,"source":{"db":"db1","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"y"},"op":"c","ts_ms":4,"source":{"db":"db2","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid1 -> tableInfo, tid2 -> tableInfo))
    q.awaitTermination(60000)
    assert(sp.runner.registry.evolvedInfo(tid1).get.fieldNames === Seq("id", "v", "age"))
    assert(sp.runner.registry.evolvedInfo(tid2).get.fieldNames === Seq("id", "v"))
    assert(sink.results(tid1).toSet === Set("db1.users:1;a;null", "db1.users:2;b;22"))
    assert(sink.results(tid2).toSet === Set("db2.users:1;x", "db2.users:2;y"))
  }

  test("inferred multi-table: same table name in two databases keeps separate schemas and keys") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_twodb_inf").toFile
    val tid1 = TableId.parse("db1.users")
    val tid2 = TableId.parse("db2.users")
    // db1.users carries (id, v); db2.users carries (id, score) — merged
    // inference across dbs would wrongly widen both
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db1","table":"users"}}""",
      """{"before":null,"after":{"id":1,"score":9},"op":"c","ts_ms":2,"source":{"db":"db2","table":"users"}}""",
      """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":3,"source":{"db":"db1","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.startMultiFromDebeziumJsonInferred(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath),
      primaryKeysOf = Map("db1.users" -> Seq("id"), "db2.users" -> Seq("id")))
    q.awaitTermination(60000)
    assert(sp.runner.registry.evolvedInfo(tid1).get.fieldNames === Seq("id", "v"))
    assert(sp.runner.registry.evolvedInfo(tid2).get.fieldNames === Seq("id", "score"))
    assert(sink.results(tid1) === Seq("db1.users:1;a2"))
    assert(sink.results(tid2) === Seq("db2.users:1;9"))
  }

  test("newly-added-table capture: a wire CREATE TABLE materializes an undeclared table") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_newtbl").toFile
    // users is declared; products appears mid-stream via wire CREATE and
    // must materialize with its wire-declared schema from that position on
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"products"},"ddl":"CREATE TABLE products (id BIGINT PRIMARY KEY, name VARCHAR(20))"}""",
      """{"before":null,"after":{"id":100,"name":"widget"},"op":"c","ts_ms":2,"source":{"db":"db","table":"products"}}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":100,"name":"widget"},"after":{"id":100,"name":"gadget"},"op":"u","ts_ms":4,"source":{"db":"db","table":"products"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val pdCapture = PipelineDef(
      SourceDef("values", Map("scan.newly-added-table.enabled" -> "true")),
      SinkDef("values", Map.empty))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pdCapture, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo))
    q.awaitTermination(60000)
    val pid = TableId.parse("db.products")
    assert(sp.runner.sourcePlane.tables.toSet - tid === Set(pid))
    assert(sp.runner.registry.evolvedInfo(pid).get.fieldNames === Seq("id", "name"))
    assert(sp.runner.registry.evolvedInfo(pid).get.primaryKeys === Seq("id"))
    assert(sink.results(pid) === Seq("db.products:100;gadget"))
    assert(sink.results(tid).toSet === Set("db.users:1;a", "db.users:2;b"))
  }

  test("newly-added-table capture + restart: captured table resumes without a fresh CREATE") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_newtbl_cp").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cp = new java.io.File(dir, "checkpoint").getAbsolutePath
    def writeFeed(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(feed, name).toPath,
        lines.mkString("\n").getBytes("UTF-8"))
    val pdCapture = PipelineDef(
      SourceDef("values", Map("scan.newly-added-table.enabled" -> "true")),
      SinkDef("values", Map.empty))
    val pid = TableId.parse("db.products")

    // run 1: products appears via wire CREATE and materializes
    writeFeed("f1.json", Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"products"},"ddl":"CREATE TABLE products (id BIGINT PRIMARY KEY, name VARCHAR(20))"}""",
      """{"before":null,"after":{"id":100,"name":"widget"},"op":"c","ts_ms":2,"source":{"db":"db","table":"products"}}"""))
    val sink1 = new ValuesDatabase
    val q1 = new StreamingPipeline(spark, pdCapture, sink1).start(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo), checkpointLocation = Some(cp))
    q1.awaitTermination(60000)
    assert(sink1.results(pid) === Seq("db.products:100;widget"))

    // run 2 (fresh pipeline, same checkpoint): a products row with NO new
    // CREATE on the wire must still decode — the captured table came back
    // from the restored upstream plane
    writeFeed("f2.json", Seq(
      """{"before":{"id":100,"name":"widget"},"after":{"id":100,"name":"gadget"},"op":"u","ts_ms":3,"source":{"db":"db","table":"products"}}"""))
    val sink2 = new ValuesDatabase
    val sp2 = new StreamingPipeline(spark, pdCapture, sink2)
    val q2 = sp2.start(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo), checkpointLocation = Some(cp))
    q2.awaitTermination(60000)
    assert(sp2.runner.sourcePlane.tables.toSet - tid === Set(pid))
    assert(sink2.results(pid) === Seq("db.products:100;gadget"))
  }

  test("newly-added-table capture OFF (default): undeclared tables stay dropped") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_newtbl_off").toFile
    val tidB = TableId.parse("db.orders")
    val infoB = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("amt", LongType))),
      primaryKeys = Seq("id"))
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"products"},"ddl":"CREATE TABLE products (id BIGINT PRIMARY KEY, name VARCHAR(20))"}""",
      """{"before":null,"after":{"id":100,"name":"w"},"op":"c","ts_ms":2,"source":{"db":"db","table":"products"}}""",
      """{"before":null,"after":{"id":10,"amt":5},"op":"c","ts_ms":3,"source":{"db":"db","table":"orders"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo, tidB -> infoB))
    q.awaitTermination(60000)
    assert((sp.runner.sourcePlane.tables.toSet -- Set(tid, tidB)).isEmpty)
    assert(sp.runner.registry.evolvedInfo(TableId.parse("db.products")).isEmpty)
    assert(sink.results(tid) === Seq("db.users:1;a"))
    assert(sink.results(tidB) === Seq("db.orders:10;5"))
  }

  test("multi-table routing probes the envelope JSON once, not once per table") {
    // the routing key materializes into the persisted batch; per-table
    // filters must be plain string equalities on that cached column —
    // a JSON probe (get_json_object) in the routed plan means the batch
    // is re-parsed once per declared table (500 tables = 500 parses/rec)
    val dir = java.nio.file.Files.createTempDirectory("route_plan").toFile
    java.nio.file.Files.write(new java.io.File(dir, "b.json").toPath, Seq(
      """{"after":{"id":1},"op":"c","source":{"db":"db","table":"users"}}""",
      """{"after":{"id":2},"op":"c","source":{"db":"db","table":"orders"}}""")
      .mkString("\n").getBytes("UTF-8"))
    val batch = spark.read.text(dir.getAbsolutePath).toDF("value")
    val keyed = StreamingPipeline.withRoutingKey(batch, WireFormat.Debezium())
    // one probe in the keyed frame itself (the single pass)...
    assert(keyed.queryExecution.optimizedPlan.toString.contains("get_json_object"))
    val routed = StreamingPipeline.routeByTableId(
      keyed.persist(), TableId.tableOnly("users"))
    // ...and NONE in the per-table route above the cache boundary: the
    // filter must be an attribute equality over the InMemoryRelation
    // (whose displayed child plan is provenance — the probe that ran once
    // at cache build), never a fresh probe of `value`
    val routedPlan = routed.queryExecution.optimizedPlan.toString
    val aboveCache = routedPlan.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    assert(aboveCache.contains("__tbl"), s"routing not by cached key:\n$routedPlan")
    assert(!aboveCache.contains("get_json_object"),
      s"per-table routing re-probes the JSON:\n$routedPlan")
    assert(routed.collect().map(_.getString(0)).toSeq ===
      Seq("""{"after":{"id":1},"op":"c","source":{"db":"db","table":"users"}}"""))
    keyed.unpersist()
  }

  test("deterministic order: multi-table DDL-free batches keep last-wins state per table") {
    // r16 fast path: with a caller-supplied order expression the __seq is
    // a pure row-content function, so a DDL-free MULTI-table batch skips
    // the per-batch persist — last-wins per key must follow the order
    // field, across interleaved tables on one feed
    val dir = java.nio.file.Files.createTempDirectory("dbz_det").toFile
    val tidB = TableId.parse("db.orders")
    val infoB = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("amt", LongType))),
      primaryKeys = Seq("id"))
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":10,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":10,"amt":100},"op":"c","ts_ms":11,"source":{"db":"db","table":"orders"}}""",
      """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":12,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":10,"amt":100},"after":{"id":10,"amt":150},"op":"u","ts_ms":13,"source":{"db":"db","table":"orders"}}""",
      """{"before":{"id":1,"v":"a2"},"after":{"id":1,"v":"a3"},"op":"u","ts_ms":14,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo, tidB -> infoB),
      order = Some(get_json_object(col("value"), "$.ts_ms").cast("long")))
    q.awaitTermination(60000)
    assert(sink.results(tid) === Seq("db.users:1;a3"))
    assert(sink.results(tidB) === Seq("db.orders:10;150"))
    // the point of the deterministic order: no batch needed the persist
    assert(sp.persistedBatches === 0)
  }

  test("deterministic order + route fan-out > 1: every routed sink converges identically") {
    // fan-out > 1 means N independent write actions each re-evaluate the
    // batch; only a deterministic __seq makes that safe — both sink
    // tables must land the same last-wins state
    val dir = java.nio.file.Files.createTempDirectory("dbz_fan").toFile
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":2,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val pdFan = pd.copy(routes = Seq(
      graft.route.RouteRule("db.users", "db.copy_a"),
      graft.route.RouteRule("db.users", "db.copy_b")))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pdFan, sink)
    val q = sp.startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo,
      order = Some(get_json_object(col("value"), "$.ts_ms").cast("long")))
    q.awaitTermination(60000)
    val a = sink.results(TableId.parse("db.copy_a")).map(_.split(":")(1))
    val b = sink.results(TableId.parse("db.copy_b")).map(_.split(":")(1))
    assert(a.toSet === Set("1;a2", "2;b"))
    assert(a === b)
  }

  test("deterministic order with mid-batch DDL falls back to the segmented persist path") {
    // DDL present → the persist-first path runs even with an order
    // expression; segmentation must still apply the ALTER at its log
    // position (the order field orders DDL envelopes too — the contract)
    val dir = java.nio.file.Files.createTempDirectory("dbz_det_ddl").toFile
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"users"},"ts_ms":2,"ddl":"ALTER TABLE users ADD COLUMN age INT"}""",
      """{"before":null,"after":{"id":2,"v":"b","age":22},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo),
      order = Some(get_json_object(col("value"), "$.ts_ms").cast("long")))
    q.awaitTermination(60000)
    assert(sp.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sink.results(tid).toSet === Set("db.users:1;a;null", "db.users:2;b;22"))
    assert(sp.persistedBatches > 0) // DDL → persist-first path
  }

  test("deterministicSeqColumn is a pure function of row content, partitioning-invariant") {
    val df = spark.range(0, 1000).toDF("id")
    def seqMap(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.withColumn("s", StreamingPipeline.deterministicSeqColumn(7, col("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = seqMap(df)
    val b = seqMap(df.repartition(13))
    assert(a === b)
    assert(a(5L) === (7L << 43) + 5L)
  }

  test("file-ordered stream: natural file order drives the fast path, no content field needed") {
    // r17: fileJsonStreamOrdered derives `order` from the file topic
    // itself (segment number + line index) — the shipped CLI default.
    // ts_ms is IDENTICAL on every record, so the last-wins outcome can
    // only come from the file/line order; multi-table + DDL-free must
    // take the unpersisted fast path.
    val dir = java.nio.file.Files.createTempDirectory("dbz_fileord").toFile
    val tidB = TableId.parse("db.orders")
    val infoB = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("amt", LongType))),
      primaryKeys = Seq("id"))
    java.nio.file.Files.write(new java.io.File(dir, "seg-001.json").toPath,
      Seq(
        """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":5,"source":{"db":"db","table":"users"}}""",
        """{"before":null,"after":{"id":10,"amt":100},"op":"c","ts_ms":5,"source":{"db":"db","table":"orders"}}""",
        """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":5,"source":{"db":"db","table":"users"}}"""
      ).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "seg-002.json").toPath,
      Seq(
        """{"before":{"id":10,"amt":100},"after":{"id":10,"amt":150},"op":"u","ts_ms":5,"source":{"db":"db","table":"orders"}}""",
        """{"before":{"id":1,"v":"a2"},"after":{"id":1,"v":"a3"},"op":"u","ts_ms":5,"source":{"db":"db","table":"users"}}"""
      ).mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStreamOrdered(spark, dir.getAbsolutePath), WireFormat.Debezium(),
      Seq(tid -> tableInfo, tidB -> infoB),
      order = Some(col(StreamingPipeline.FileOrderCol)))
    q.awaitTermination(60000)
    assert(sink.results(tid) === Seq("db.users:1;a3"))
    assert(sink.results(tidB) === Seq("db.orders:10;150"))
    assert(sp.persistedBatches === 0) // deterministic order -> fast path
  }

  test("withFileOrder: __order is a pure content/name function — recompute- and partitioning-invariant") {
    val dir = java.nio.file.Files.createTempDirectory("fileord_pure").toFile
    java.nio.file.Files.write(new java.io.File(dir, "part-00007.json").toPath,
      "r0\nr1\n\nr2\n".getBytes("UTF-8")) // blank line: dropped, not renumbered
    java.nio.file.Files.write(new java.io.File(dir, "part-00010.json").toPath,
      "s0\ns1".getBytes("UTF-8"))
    def orders(extra: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val raw = spark.read.format("text").option("wholetext", "true")
        .load(dir.getAbsolutePath)
      StreamingPipeline.withFileOrder(extra(raw))
        .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    }
    val a = orders(identity)
    val b = orders(_.repartition(7)) // a recomputed/shuffled evaluation
    assert(a === b)
    assert(a === Map(
      "r0" -> ((7L << 22) + 0), "r1" -> ((7L << 22) + 1), "r2" -> ((7L << 22) + 3),
      "s0" -> ((10L << 22) + 0), "s1" -> ((10L << 22) + 1)))
  }

  test("validateFileTopicOrder: config-time rejection of colliding, unnumbered, oversized segments") {
    def dirWith(names: String*): String = {
      val d = java.nio.file.Files.createTempDirectory("ord_val").toFile
      names.foreach(n => java.nio.file.Files.write(
        new java.io.File(d, n).toPath, "x\n".getBytes("UTF-8")))
      d.getAbsolutePath
    }
    // the spark-part-file shape: the last digit run is the constant c000
    // suffix, so every file would collide on fseq=0 (r17 review finding)
    val e1 = intercept[IllegalArgumentException] {
      StreamingPipeline.validateFileTopicOrder(
        dirWith("part-00000-aaa-c000.json", "part-00001-bbb-c000.json"))
    }
    assert(e1.getMessage.contains("collide"))
    // the remedy: a regex that anchors the segment run to the part- prefix
    StreamingPipeline.validateFileTopicOrder(
      dirWith("part-00000-aaa-c000.json", "part-00001-bbb-c000.json"),
      seqRegex = "part-(\\d+)")
    val e2 = intercept[IllegalArgumentException] {
      StreamingPipeline.validateFileTopicOrder(dirWith("feed.json", "f1.json"))
    }
    assert(e2.getMessage.contains("unusable"))
    // hidden/metadata entries are skipped like Spark's file source
    StreamingPipeline.validateFileTopicOrder(
      dirWith("seg-001.json", "_spark_metadata", ".crc"))
    val e3 = intercept[IllegalArgumentException] {
      StreamingPipeline.validateFileTopicOrder(
        dirWith("seg-001.json"), maxFileBytes = 1L)
    }
    assert(e3.getMessage.contains("wholetext"))
    // date-stamped segment numbers overflow __order's 21-bit field —
    // must fail at config time, not in the first micro-batch (r17
    // review pass 2)
    val e4 = intercept[IllegalArgumentException] {
      StreamingPipeline.validateFileTopicOrder(
        dirWith("app-20260816.json", "app-20260817.json"))
    }
    assert(e4.getMessage.contains("21-bit"))
    // user-regex shapes that must degrade to None, not crash: a
    // non-participating group, no capture group at all, an overflowing
    // digit run (r17 review pass 2)
    assert(StreamingPipeline.fileSeqOf("part-x", "seg-(\\d+)|part").isEmpty)
    assert(StreamingPipeline.fileSeqOf("seg-1", "seg-\\d+").isEmpty)
    assert(StreamingPipeline.fileSeqOf(
      "t-12345678901234567890123", "t-(\\d+)").isEmpty)
    assert(StreamingPipeline.fileSeqOf("seg-0042.json").contains(42L))
  }

  test("validateFileTopicOrder resolves globs and missing paths via Hadoop FS (r18 advice)") {
    def dirWith(names: String*): String = {
      val d = java.nio.file.Files.createTempDirectory("ord_glob").toFile
      names.foreach(n => java.nio.file.Files.write(
        new java.io.File(d, n).toPath, "x\n".getBytes("UTF-8")))
      d.getAbsolutePath
    }
    // a GLOB path now validates too (the r17 java.io.File listing
    // no-opped on anything that wasn't a literal local directory, so a
    // collision behind a glob reached the runtime unchecked)
    val d = dirWith("part-00000-aaa-c000.json", "part-00001-bbb-c000.json")
    val e = intercept[IllegalArgumentException] {
      StreamingPipeline.validateFileTopicOrder(d + "/part-*.json")
    }
    assert(e.getMessage.contains("collide"))
    StreamingPipeline.validateFileTopicOrder(d + "/part-*.json",
      seqRegex = "part-(\\d+)")
    // a path with no visible data files warns and returns (no throw) —
    // there is nothing to validate yet
    StreamingPipeline.validateFileTopicOrder(d + "/nothing-here-*.json")
    StreamingPipeline.validateFileTopicOrder("/no/such/dir/anywhere")
  }

  test("withFileOrder raises the targeted overflow message on a past-long run; zero-padded long values keep working") {
    // globs skip config-time validation for late files; a digit run past
    // a long must hit the explicit __order overflow raise, not cast to
    // NULL and surface as a generic null-order failure (r18 advice)
    val dir = java.nio.file.Files.createTempDirectory("fileord_bigseq").toFile
    java.nio.file.Files.write(
      new java.io.File(dir, "t-12345678901234567890123.json").toPath,
      "x\n".getBytes("UTF-8"))
    val raw = spark.read.format("text").option("wholetext", "true")
      .load(dir.getAbsolutePath)
    val e = intercept[Exception] {
      StreamingPipeline.withFileOrder(raw).collect()
    }
    def m(t: Throwable) = Option(t.getMessage).getOrElse("")
    assert(m(e).contains("exceeds a long") ||
      Option(e.getCause).exists(c => m(c).contains("exceeds a long")))
    // the guard tests the PARSED value, not the run length: Kafka-style
    // 20-digit zero-padded segment names fit a long and must not raise
    // (r18 review — a length>18 check would have broken them)
    val dir2 = java.nio.file.Files.createTempDirectory("fileord_zeropad").toFile
    java.nio.file.Files.write(
      new java.io.File(dir2, "00000000000000012345.log").toPath,
      "y\n".getBytes("UTF-8"))
    val ok = StreamingPipeline.withFileOrder(
      spark.read.format("text").option("wholetext", "true")
        .load(dir2.getAbsolutePath)).collect()
    assert(ok.map(r => r.getLong(0)).toSeq === Seq((12345L << 22) + 0))
  }

  test("withFileOrder raises on a file name with no sequence number") {
    val dir = java.nio.file.Files.createTempDirectory("fileord_bad").toFile
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      "x\n".getBytes("UTF-8"))
    val raw = spark.read.format("text").option("wholetext", "true")
      .load(dir.getAbsolutePath)
    val e = intercept[Exception] {
      StreamingPipeline.withFileOrder(raw).collect()
    }
    assert(e.getMessage.contains("no sequence number") ||
      Option(e.getCause).exists(_.getMessage.contains("no sequence number")))
  }

  test("deterministicSeqColumn raises on null and out-of-range order values") {
    def evalOne(order: org.apache.spark.sql.Column, epoch: Long = 1L): Unit = {
      spark.range(1).select(
        StreamingPipeline.deterministicSeqColumn(epoch, order).as("s")).collect()
      ()
    }
    for (bad <- Seq(lit(null).cast("long"), lit(-1L), lit(1L << 43)))
      assert(intercept[Exception] { evalOne(bad) }
        .getMessage.contains("deterministic-order violation"))
    assert(intercept[Exception] { evalOne(lit(0L), epoch = 1L << 20) }
      .getMessage.contains("deterministic-order violation"))
    evalOne(lit((1L << 43) - 1)) // boundary accepted
  }

  test("inferred schema: CreateTable synthesized from payloads, new field mid-stream adds a column") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.startFromDebeziumJsonInferred(
      mem.toDF().toDF("value"), tid, primaryKeys = Seq("id"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""")
    q.processAllAvailable()
    // first batch synthesized CreateTable from its own inference
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("id", "v"))
    assert(sink.info(tid).get.primaryKeys === Seq("id"))
    // a field appears mid-stream: AddColumn flows through to the sink and
    // earlier rows null-fill
    mem.addData(
      """{"before":null,"after":{"id":3,"v":"c","age":30},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""")
    q.processAllAvailable()
    q.stop()
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sink.info(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sink.results(tid).toSet === Set(
      "db.users:1;a;null", "db.users:2;b;null", "db.users:3;c;30"))
  }

  test("inferred schema: a type widening mid-stream produces AlterColumnType") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.startFromDebeziumJsonInferred(
      mem.toDF().toDF("value"), tid, primaryKeys = Seq("id"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(
      """{"before":null,"after":{"id":1,"n":5},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""")
    q.processAllAvailable()
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    // the same field arrives as a string: widen long -> string through the
    // merging lattice, decode THIS batch with the widened schema
    mem.addData(
      """{"before":null,"after":{"id":2,"n":"x"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""")
    q.processAllAvailable()
    q.stop()
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.schema("n").dataType === StringType)
    assert(sink.info(tid).get.schema("n").dataType === StringType)
    assert(sink.results(tid).toSet === Set("db.users:1;5", "db.users:2;x"))
  }

  test("inferred schema: an empty first batch waits instead of creating an empty table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.startFromDebeziumJsonInferred(
      mem.toDF().toDF("value"), tid, primaryKeys = Seq("id"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // heartbeat-style envelope with no before/after: nothing to infer from
    mem.addData("""{"op":"h","ts_ms":0,"source":{"db":"db","table":"users"}}""")
    q.processAllAvailable()
    assert(sp.runner.sourcePlane.evolvedInfo(tid).isEmpty)
    assert(sink.info(tid).isEmpty)
    mem.addData(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""")
    q.processAllAvailable()
    q.stop()
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("id", "v"))
    assert(sink.results(tid) === Seq("db.users:1;a"))
  }

  test("multi-table inferred schema: every table on the topic materializes independently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.startMultiFromDebeziumJsonInferred(
      mem.toDF().toDF("value"),
      primaryKeysOf = Map("users" -> Seq("id"), "orders" -> Seq("id")),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":10,"amt":100},"op":"c","ts_ms":2,"source":{"db":"db","table":"orders"}}""")
    q.processAllAvailable()
    val uid = TableId.schemaTable("db", "users")
    val oid = TableId.schemaTable("db", "orders")
    assert(sp.runner.sourcePlane.evolvedInfo(uid).get.fieldNames === Seq("id", "v"))
    assert(sp.runner.sourcePlane.evolvedInfo(oid).get.fieldNames === Seq("amt", "id"))
    // a field appears on ONE table: only that table's schema widens
    mem.addData(
      """{"before":null,"after":{"id":2,"v":"b","vip":true},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":10,"amt":100},"after":{"id":10,"amt":150},"op":"u","ts_ms":4,"source":{"db":"db","table":"orders"}}""")
    q.processAllAvailable()
    q.stop()
    assert(sp.runner.sourcePlane.evolvedInfo(uid).get.fieldNames === Seq("id", "v", "vip"))
    assert(sp.runner.sourcePlane.evolvedInfo(oid).get.fieldNames === Seq("amt", "id"))
    assert(sink.results(uid).toSet === Set("db.users:1;a;null", "db.users:2;b;true"))
    assert(sink.results(oid).toSet === Set("db.orders:150;10"))
  }

  test("inferred schema + checkpoint restart: resumes with the inferred schema, no re-Create") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_inf_cp").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cp = new java.io.File(dir, "checkpoint").getAbsolutePath
    def writeFeed(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(feed, name).toPath,
        lines.mkString("\n").getBytes("UTF-8"))

    // run 1: rows carry (age, id, v) — inference orders alphabetically
    writeFeed("f1.json", Seq(
      """{"before":null,"after":{"id":1,"v":"a","age":10},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}"""))
    val sink1 = new ValuesDatabase
    val sp1 = new StreamingPipeline(spark, pd, sink1)
    val q1 = sp1.startFromDebeziumJsonInferred(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath),
      tid, primaryKeys = Seq("id"), checkpointLocation = Some(cp))
    q1.awaitTermination(60000)
    assert(sp1.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("age", "id", "v"))
    assert(sink1.results(tid) === Seq("db.users:10;1;a"))

    // run 2 (fresh pipeline, same checkpoint): a narrower row must decode
    // onto the RESTORED 3-column schema — a re-synthesized CreateTable
    // would have reset the sink to (id, v)
    writeFeed("f2.json", Seq(
      """{"before":null,"after":{"id":9,"v":"z"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}"""))
    val sink2 = new ValuesDatabase
    val sp2 = new StreamingPipeline(spark, pd, sink2)
    val q2 = sp2.startFromDebeziumJsonInferred(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath),
      tid, primaryKeys = Seq("id"), checkpointLocation = Some(cp))
    q2.awaitTermination(60000)
    assert(sp2.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("age", "id", "v"))
    assert(sp2.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("age", "id", "v"))
    assert(sink2.results(tid) === Seq("db.users:null;9;z"))
  }

  test("canal-json stream: multi-row messages and isDdl envelopes drive the pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("canal_stream").toFile
    val lines = Seq(
      // one multi-row INSERT message (real canal batches rows per message)
      """{"old":null,"data":[{"id":1,"v":"a"},{"id":2,"v":"b"}],"type":"INSERT","database":"db","table":"users","pkNames":["id"]}""",
      """{"isDdl":true,"sql":"ALTER TABLE users ADD COLUMN age INT","database":"db","table":"users"}""",
      """{"old":[{"id":1,"v":"a","age":null}],"data":[{"id":1,"v":"a2","age":11}],"type":"UPDATE","database":"db","table":"users","pkNames":["id"]}""",
      """{"old":null,"data":[{"id":2,"v":"b","age":null}],"type":"DELETE","database":"db","table":"users","pkNames":["id"]}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.start(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Canal,
      Seq(tid -> tableInfo))
    q.awaitTermination(60000)
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sink.results(tid).toSet === Set("db.users:1;a2;11"))
  }

  test("mongo feed: no DDL channel, so a micro-batch runs no DDL probe job") {
    val dir = java.nio.file.Files.createTempDirectory("mongo_jobs").toFile
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath, Seq(
      """{"_id":{"_data":"8201"},"operationType":"insert","clusterTime":1,"fullDocument":{"id":1,"v":"a"},"ns":{"db":"db","coll":"users"}}""",
      """{"_id":{"_data":"8202"},"operationType":"insert","clusterTime":2,"fullDocument":{"id":2,"v":"b"},"ns":{"db":"db","coll":"users"}}""")
      .mkString("\n").getBytes("UTF-8"))
    // Spark jobs per (query id, micro-batch id)
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val key = (p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId"))
          if (key._1 != null && key._2 != null) jobs.merge(key, 1, (a, b) => a + b)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val sink = new ValuesDatabase
    val q = try {
      val q = new StreamingPipeline(spark, pd, sink).start(
        StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), WireFormat.Mongo,
        Seq(tid -> tableInfo))
      q.awaitTermination(60000)
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(sink.results(tid).toSet === Set("db.users:1;a", "db.users:2;b"))
    import scala.jdk.CollectionConverters._
    val perBatch = jobs.asScala.collect { case ((qid, _), n) if qid == q.id.toString => n.intValue }
    assert(perBatch.toSeq === Seq(3))
  }

  test("multi-table canal topic: routing + per-table DDL, multi-row messages intact") {
    val dir = java.nio.file.Files.createTempDirectory("canal_multi").toFile
    val tidB = TableId.parse("db.orders")
    val infoB = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("amt", LongType))),
      primaryKeys = Seq("id"))
    val lines = Seq(
      """{"old":null,"data":[{"id":1,"v":"a"},{"id":2,"v":"b"}],"type":"INSERT","database":"db","table":"users","pkNames":["id"]}""",
      """{"old":null,"data":[{"id":10,"amt":100}],"type":"INSERT","database":"db","table":"orders","pkNames":["id"]}""",
      """{"isDdl":true,"sql":"ALTER TABLE users ADD COLUMN age INT","database":"db","table":"users"}""",
      """{"old":[{"id":1,"v":"a","age":null}],"data":[{"id":1,"v":"a2","age":11}],"type":"UPDATE","database":"db","table":"users","pkNames":["id"]}""",
      """{"old":[{"id":10,"amt":100}],"data":[{"id":10,"amt":150}],"type":"UPDATE","database":"db","table":"orders","pkNames":["id"]}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.startMultiFromCanalJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath),
      Seq(tid -> tableInfo, tidB -> infoB))
    q.awaitTermination(60000)
    // users evolved by its DDL; orders untouched
    assert(sp.runner.sourcePlane.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "age"))
    assert(sp.runner.sourcePlane.evolvedInfo(tidB).get.fieldNames === Seq("id", "amt"))
    assert(sink.results(tid).toSet === Set(
      "db.users:1;a2;11", "db.users:2;b;null"))
    assert(sink.results(tidB).toSet === Set("db.orders:10;150"))
  }

  test("routed writes defer to the flush barrier: one COW write per sink table per schema epoch") {
    // 3 canal shards merge into one copy-on-write table beside one
    // pass-through table; batch 1 carries an ADD COLUMN on a shard
    val dir = java.nio.file.Files.createTempDirectory("canal_defer").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val shards = (1 to 3).map(i => TableId.parse(s"app.orders_$i"))
    val items = TableId.parse("app.items")
    val orders = TableId.parse("dw.orders")
    val orderInfo = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("qty", LongType))),
      primaryKeys = Seq("id"))
    val itemInfo = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
      primaryKeys = Seq("id"))
    def row(t: String, op: String, data: String, old: String = "null") =
      s"""{"old":$old,"data":[$data],"type":"$op","database":"app","table":"$t","pkNames":["id"]}"""
    def writeFeed(name: String, mtime: Long, lines: String*): Unit = {
      val f = new java.io.File(feed, name)
      java.nio.file.Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
      f.setLastModified(mtime)
    }
    writeFeed("f1.json", 1000000L,
      row("orders_3", "INSERT", """{"id":5,"qty":50}"""),
      row("orders_1", "INSERT", """{"id":1,"qty":10}"""),
      row("orders_2", "INSERT", """{"id":2,"qty":20}"""),
      // the same key again, later in the log, from another shard: wins
      row("orders_1", "INSERT", """{"id":5,"qty":51}"""),
      row("items", "INSERT", """{"id":100,"name":"pen"}"""))
    writeFeed("f2.json", 2000000L,
      row("orders_1", "UPDATE", """{"id":1,"qty":11}""", """[{"id":1,"qty":10}]"""),
      row("orders_2", "INSERT", """{"id":3,"qty":30}"""),
      """{"isDdl":true,"sql":"ALTER TABLE orders_2 ADD COLUMN note VARCHAR(20)","database":"app","table":"orders_2"}""",
      row("orders_2", "INSERT", """{"id":4,"qty":40,"note":"n4"}"""),
      row("orders_3", "INSERT", """{"id":6,"qty":60}"""),
      row("items", "UPDATE", """{"id":100,"name":"pencil"}""", """[{"id":100,"name":"pen"}]"""))

    // write calls per (micro-batch id, sink table)
    final class WriteCountingSink(val inner: graft.sinks.ParquetUpsertSink)
        extends graft.sinks.DataSink {
      val writes = scala.collection.mutable.Map.empty[(String, TableId), Int]
      override def applySchemaChange(e: graft.model.SchemaChangeEvent): Unit =
        inner.applySchemaChange(e)
      override def write(tableId: TableId, exploded: org.apache.spark.sql.DataFrame,
          info: TableInfo): Unit = {
        val batchId = spark.sparkContext.getLocalProperty("streaming.sql.batchId")
        writes((batchId, tableId)) = writes.getOrElse((batchId, tableId), 0) + 1
        inner.write(tableId, exploded, info)
      }
    }
    val sink = new WriteCountingSink(new graft.sinks.ParquetUpsertSink(
      spark, new java.io.File(dir, "sink").getAbsolutePath, numBuckets = 4))
    val sp = new StreamingPipeline(spark,
      pd.copy(routes = Seq(graft.route.RouteRule("app.orders_\\.*", "dw.orders"))), sink)
    val q = sp.startMultiFromCanalJson(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath, maxFilesPerTrigger = Some(1)),
      shards.map(_ -> orderInfo) :+ (items -> itemInfo))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    // batch 0: the three shards share one write; batch 1: the ADD COLUMN
    // splits dw.orders into the writes before and after it
    assert(sink.writes.toMap === Map(
      ("0", orders) -> 1, ("0", items) -> 1,
      ("1", orders) -> 2, ("1", items) -> 1))
    val orderRows = sink.inner.read(orders).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("qty"), Option(r.getAs[String]("note"))))
    assert(orderRows.toSet === Set((1L, 11L, None), (2L, 20L, None), (3L, 30L, None),
      (4L, 40L, Some("n4")), (5L, 51L, None), (6L, 60L, None)))
    assert(sink.inner.read(items).collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((100L, "pencil")))
  }

  test("unparseable wire DDL is skipped, counted once, and the stream keeps flowing") {
    val dir = java.nio.file.Files.createTempDirectory("dbz_bad_ddl").toFile
    val lines = Seq(
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"source":{"db":"db","table":"users"},"ddl":"ALTER TABLE users ADD COLUMN age FROBTYPE(3)"}""",
      """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""")
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    sp.startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, dir.getAbsolutePath), tid, tableInfo)
      .awaitTermination(60000)
    assert(sp.skippedDdlStatements === 1)
    assert(sp.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("id", "v"))
    assert(sink.results(tid).toSet === Set("db.users:1;a", "db.users:2;b"))
  }

  test("registry state snapshot/restore roundtrip") {
    import graft.model._
    import graft.schema.SchemaRegistry
    val reg = new SchemaRegistry()
    reg.apply(CreateTableEvent(tid, tableInfo))
    reg.apply(AddColumnEvent(tid,
      Seq((StructField("extra", IntegerType), ColumnPosition.Last))))
    val restored = new SchemaRegistry()
    restored.restoreState(reg.snapshotState)
    assert(restored.originalInfo(tid) === reg.originalInfo(tid))
    assert(restored.evolvedInfo(tid) === reg.evolvedInfo(tid))
    assert(restored.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "extra"))
    assert(restored.evolvedInfo(tid).get.primaryKeys === Seq("id"))
    // version history survives the roundtrip
    assert(restored.evolvedVersions(tid).map(_.fieldNames) ===
      Seq(Seq("id", "v"), Seq("id", "v", "extra")))
  }

  test("versioned schema store: every change appends a version") {
    import graft.model._
    import graft.schema.SchemaRegistry
    val reg = new SchemaRegistry()
    reg.apply(CreateTableEvent(tid, tableInfo))
    reg.apply(AddColumnEvent(tid,
      Seq((StructField("a", IntegerType), ColumnPosition.Last))))
    reg.apply(AddColumnEvent(tid,
      Seq((StructField("b", StringType), ColumnPosition.Last))))
    assert(reg.evolvedVersions(tid).size === 3)
    assert(reg.evolvedInfoAt(tid, 0).get.fieldNames === Seq("id", "v"))
    assert(reg.evolvedInfoAt(tid, 1).get.fieldNames === Seq("id", "v", "a"))
    assert(reg.evolvedInfoAt(tid, 2).get.fieldNames === Seq("id", "v", "a", "b"))
    assert(reg.evolvedInfoAt(tid, 3).isEmpty)
    // original plane: rename is tracked faithfully even under LENIENT
    reg.apply(RenameColumnEvent(tid, Map("v" -> "val")))
    assert(reg.originalVersions(tid).last.fieldNames === Seq("id", "val", "a", "b"))
    // lenient sink plane added a column instead of renaming
    assert(reg.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "a", "b", "val"))
  }

  test("restart with checkpointed schema state keeps the evolved sink schema") {
    import graft.model._
    import graft.schema.SchemaRegistry
    val dir = java.nio.file.Files.createTempDirectory("dbz_schema").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val cpDir = new java.io.File(dir, "checkpoint"); cpDir.mkdirs()

    // simulate a prior run that saw ADD COLUMN extra INT: its registry
    // state sits in the checkpoint directory
    val prior = new SchemaRegistry()
    prior.apply(CreateTableEvent(tid, tableInfo))
    prior.apply(AddColumnEvent(tid,
      Seq((StructField("extra", IntegerType), ColumnPosition.Last))))
    java.nio.file.Files.write(
      new java.io.File(cpDir, StreamingPipeline.SchemaStateFile).toPath,
      prior.snapshotState.getBytes("UTF-8"))

    java.nio.file.Files.write(new java.io.File(feed, "f1.json").toPath,
      """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}"""
        .getBytes("UTF-8"))
    val sink = new ValuesDatabase
    val sp = new StreamingPipeline(spark, pd, sink)
    val q = sp.startFromDebeziumJson(
      StreamingPipeline.fileJsonStream(spark, feed.getAbsolutePath),
      tid, tableInfo, checkpointLocation = Some(cpDir.getAbsolutePath))
    q.awaitTermination(60000)
    // without restore, the synthesized CreateTable would reset the sink
    // schema to (id, v); with it, rows coerce onto the evolved 3-column
    // shape and the registry still knows the ADD COLUMN
    assert(sp.runner.registry.evolvedInfo(tid).get.fieldNames === Seq("id", "v", "extra"))
    assert(sink.results(tid) === Seq("db.users:1;a;null"))
  }

  test("hybrid source: snapshot then changes past the watermark") {
    val snapshot = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // change feed includes offsets <= watermark (already in snapshot, must
    // be skipped) and past it
    val feed = Seq(
      (1L, "a_stale", "U", 50L), // <= watermark 100 -> dropped
      (1L, "a2", "R", 150L),
      (3L, "c", "I", 160L)
    ).toDF("id", "v", "__op_flat", "__seq_in")
    val paired = feed.select(
      col("__op_flat").as(graft.cdc.Changelog.OpCol),
      lit(null).cast(tableInfo.schema).as(graft.cdc.Changelog.BeforeCol),
      struct(col("id"), col("v")).as(graft.cdc.Changelog.AfterCol),
      col("__seq_in").as(graft.cdc.Changelog.SeqCol))
    val sink = new ValuesDatabase
    val source = new HybridSnapshotSource(tid, tableInfo, snapshot, 100L, Seq(paired))
    new PipelineRunner(spark, pd, source, sink).run()
    assert(sink.results(tid).toSet === Set(
      "db.users:1;a2", "db.users:2;b", "db.users:3;c"))
  }

  test("stateful streaming dedup: first occurrence wins across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("id", "v")
    val deduped = Stateful.streamingDedupe(df, "id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    mem.addData((1L, "a"), (2L, "b"), (1L, "a_dup_same_batch"))
    q.processAllAvailable()
    mem.addData((1L, "a_dup_next_batch"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("stream-stream interval join with watermarks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = Stateful.intervalJoin(
      buys.toDF().toDF("user", "bts", "amount"),
      clicks.toDF().toDF("user", "cts"),
      key = "user", leftTs = "bts", rightTs = "cts",
      before = "10 MINUTE", after = "0 SECOND")
    val q = joined.select(col("l.user"), col("amount"), col("r.cts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    clicks.addData((1L, ts(0)), (1L, ts(20)), (2L, ts(1)))
    buys.addData((1L, ts(5), 9.99), (2L, ts(30), 5.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // user1 buy@10:05 matches click@10:00 (within 10min before); the
    // 10:20 click is after the buy; user2 buy@10:30 has no click in range
    assert(out === Seq((1L, 9.99)))
  }

  test("chunk predicates: every key matches exactly one chunk, edges unbounded") {
    import JdbcChunkSplitter._
    val plan = JdbcChunkSplitter.plan("id", KeyStats(0, 999, 1000), chunkSize = 250)
    val preds = chunkPredicates(plan)
    assert(preds.size === plan.numPartitions)
    // include keys OUTSIDE the sampled [min, max] — rows inserted after
    // stats were taken must still land in an edge chunk
    val df = spark.range(-50, 1100).toDF("id")
    val total = df.count()
    val counts = preds.map(p => df.where(p).count())
    assert(counts.sum === total, s"coverage not exactly-once: $counts")
    assert(preds.map(p => df.where(p)).reduce(_ union _).distinct().count() === total)
    // unbounded-chunk-first reorders only
    val firstMode = chunkPredicates(plan, unboundedChunkFirst = true)
    assert(firstMode.head === preds.last)
    assert(firstMode.toSet === preds.toSet)
    // degenerate single-chunk plan
    assert(chunkPredicates(JdbcChunkSplitter.plan("id", KeyStats(0, 10, 10))) === Seq("1 = 1"))
  }

  test("jdbc chunk splitter heuristic: even vs skewed key spaces") {
    import JdbcChunkSplitter._
    // dense keys: factor ~1, even split, ~rowCount/chunkSize partitions
    val dense = plan("id", KeyStats(0, 999999, 1000000), chunkSize = 8096)
    assert(dense.evenlyDistributed)
    assert(dense.numPartitions === math.ceil(1000000.0 / 8096).toInt)
    // sparse keys (factor > 1000): skewed path, 4x over-partitioning
    val sparse = plan("id", KeyStats(0, 10000000000L, 1000000), chunkSize = 8096)
    assert(!sparse.evenlyDistributed)
    assert(sparse.numPartitions === math.ceil(1000000.0 / 8096).toInt * 4)
    // tiny table: one partition
    assert(plan("id", KeyStats(0, 10, 10)).numPartitions === 1)
    // factor within bounds but keys sparse: span scales with factor
    val mid = plan("id", KeyStats(0, 99999, 10000), chunkSize = 1000) // factor 10
    assert(mid.evenlyDistributed)
    assert(mid.numPartitions === 10) // span = 1000*10 over 100k keys
  }
}
