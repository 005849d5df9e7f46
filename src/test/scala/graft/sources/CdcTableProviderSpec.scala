package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SQL/Table-API entry point: `format("graft-cdc")` exposes a
  * debezium feed as the exploded changelog relation for plain Spark SQL
  * (the reference's `'connector' = 'mysql-cdc'` analog).
  */
class CdcTableProviderSpec extends SparkSpec {

  private def writeFeed(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("cdc_dsv2").toFile
    java.nio.file.Files.write(new java.io.File(dir, "feed.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    dir.getAbsolutePath
  }

  private val feed = Seq(
    """{"before":null,"after":{"id":1,"v":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
    """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"a2"},"op":"u","ts_ms":2,"source":{"db":"db","table":"users"}}""",
    """{"before":null,"after":{"id":2,"v":"b"},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}""",
    """{"before":{"id":2,"v":"b"},"after":null,"op":"d","ts_ms":4,"source":{"db":"db","table":"users"}}""")

  test("format(graft-cdc): exploded changelog rows with schema from DDL") {
    val df = spark.read.format("graft-cdc")
      .option("path", writeFeed(feed))
      .option("schema.ddl", "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))")
      .load()
    assert(df.schema.fieldNames.toSeq === Seq("id", "v", "__op", "__seq"))
    assert(df.schema("id").dataType === LongType)
    assert(df.schema("v").dataType === StringType)
    val rows = df.orderBy(col("__seq"), col("__op").substr(1, 1).desc)
      .select(col("id"), col("v"), col("__op"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // update explodes into its retraction + insertion pair; delete into -D
    assert(rows === Seq(
      (1L, "a", "+I"),
      (1L, "a", "-U"), (1L, "a2", "+U"),
      (2L, "b", "+I"),
      (2L, "b", "-D")))
  }

  test("plain Spark SQL runs over the relation") {
    spark.read.format("graft-cdc")
      .option("path", writeFeed(feed))
      .option("schema.ddl", "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))")
      .load()
      .createOrReplaceTempView("users_changelog")
    assert(spark.sql(
      "SELECT count(*) FROM users_changelog WHERE __op = '-D'").head().getLong(0) === 1L)
    // materialized state via SQL window over the changelog
    val live = spark.sql(
      """SELECT id, v FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY id ORDER BY __seq DESC,
        |    CASE WHEN __op LIKE '+%' THEN 0 ELSE 1 END) rn
        |  FROM users_changelog) WHERE rn = 1 AND __op LIKE '+%'""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(live === Seq((1L, "a2")))
  }

  test("multi-file feed: __seq follows file-name order, not file-size order") {
    // the text scan bin-packs files largest-first, so an id over the scan
    // would misorder events across files — make the LATER files bigger so
    // size order and feed order disagree, and check latest-wins still
    // picks the last file's value
    val dir = java.nio.file.Files.createTempDirectory("cdc_dsv2_multi").toFile
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        lines.mkString("\n").getBytes("UTF-8"))
    write("part-000.json", Seq(
      """{"before":null,"after":{"id":1,"v":"first"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}"""))
    write("part-001.json", Seq(
      """{"before":{"id":1,"v":"first"},"after":{"id":1,"v":"second"},"op":"u","ts_ms":2,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"v":"pad-so-this-file-is-biggest-aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"},"op":"c","ts_ms":3,"source":{"db":"db","table":"users"}}"""))
    write("part-002.json", Seq(
      """{"before":{"id":1,"v":"second"},"after":{"id":1,"v":"final"},"op":"u","ts_ms":4,"source":{"db":"db","table":"users"}}"""))

    val df = spark.read.format("graft-cdc")
      .option("path", dir.getAbsolutePath)
      .option("schema.ddl", "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(80))")
      .load()
    df.createOrReplaceTempView("multi_changelog")
    val live = spark.sql(
      """SELECT id, v FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY id ORDER BY __seq DESC,
        |    CASE WHEN __op LIKE '+%' THEN 0 ELSE 1 END) rn
        |  FROM multi_changelog) WHERE rn = 1 AND __op LIKE '+%'""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(live.find(_._1 == 1L).map(_._2) === Some("final"))
    // and the raw seq order reconstructs the full cross-file history
    val history = df.where(col("id") === 1 && col("__op").startsWith("+"))
      .orderBy("__seq").select("v").collect().map(_.getString(0)).toSeq
    assert(history === Seq("first", "second", "final"))
  }

  test("missing schema.ddl fails with a clear message") {
    val e = intercept[Exception] {
      spark.read.format("graft-cdc").option("path", writeFeed(feed)).load()
    }
    assert(e.getMessage.contains("schema.ddl"))
  }

  // envelopes carrying their binlog coordinates, spanning a file roll;
  // the short-named file is the OLDEST (length-first order)
  private val binlogFeed = Seq(
    """{"before":null,"after":{"id":1,"v":"old-short-file"},"op":"c","ts_ms":10,"source":{"db":"db","table":"users","file":"bin.9","pos":900}}""",
    """{"before":null,"after":{"id":2,"v":"p500"},"op":"c","ts_ms":20,"source":{"db":"db","table":"users","file":"bin.000010","pos":500}}""",
    """{"before":null,"after":{"id":3,"v":"p900"},"op":"c","ts_ms":30,"source":{"db":"db","table":"users","file":"bin.000010","pos":900}}""",
    """{"before":null,"after":{"id":4,"v":"rolled"},"op":"c","ts_ms":40,"source":{"db":"db","table":"users","file":"bin.000011","pos":4}}""")

  private def readBinlogFeed(startup: (String, String)*): org.apache.spark.sql.DataFrame = {
    val r = spark.read.format("graft-cdc")
      .option("path", writeFeed(binlogFeed))
      .option("schema.ddl", "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))")
    startup.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  test("scan.startup specific-offset by STRUCTURED file+pos (length-first file order)") {
    val ids = readBinlogFeed(
      "scan.startup.mode" -> "specific-offset",
      "scan.startup.specific-offset.file" -> "bin.000010",
      "scan.startup.specific-offset.pos" -> "900")
      .select("id").collect().map(_.getLong(0)).toSet
    // at-or-after (bin.000010, 900): keeps p900 + the rolled file; drops
    // p500 and the length-shorter (older) bin.9 despite its higher pos
    assert(ids === Set(3L, 4L))
    // Connect-wrapped records carry their coordinates inside `payload`
    val wrapped = spark.read.format("graft-cdc")
      .option("path", writeFeed(binlogFeed.map(l =>
        s"""{"schema":{"type":"struct"},"payload":$l}""")))
      .option("schema.ddl", "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))")
      .option("debezium-json.schema-include", "true")
      .option("scan.startup.mode", "specific-offset")
      .option("scan.startup.specific-offset.file", "bin.000010")
      .option("scan.startup.specific-offset.pos", "900")
      .load().select("id").collect().map(_.getLong(0)).toSet
    assert(wrapped === Set(3L, 4L))
  }

  test("scan.startup scalar pos filters by feed position; timestamp by ts_ms") {
    val byPos = readBinlogFeed(
      "scan.startup.mode" -> "specific-offset",
      "scan.startup.specific-offset.pos" -> "2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(byPos === Set(3L, 4L)) // __seq is the 0-based feed line
    val byTs = readBinlogFeed(
      "scan.startup.mode" -> "timestamp",
      "scan.startup.timestamp-millis" -> "30")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(byTs === Set(3L, 4L))
  }

  test("multi-file feed: scalar pos selects the same rows on batch and stream") {
    // __seq is (fileIdx << 33) | lineNo on both faces: pos 3 is past the
    // first file's two lines and before every line of the second file
    val dir = java.nio.file.Files.createTempDirectory("cdc_dsv2_pos").toFile
    def create(id: Int) =
      s"""{"before":null,"after":{"id":$id,"v":"x"},"op":"c","ts_ms":$id,"source":{"db":"db","table":"users"}}"""
    def write(name: String, ids: Int*): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        ids.map(create).mkString("\n").getBytes("UTF-8"))
    write("part-000.json", 1, 2)
    write("part-001.json", 3, 4, 5)
    val opts = Map(
      "path" -> dir.getAbsolutePath,
      "schema.ddl" -> "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))",
      "scan.startup.mode" -> "specific-offset",
      "scan.startup.specific-offset.pos" -> "3")
    val batch = spark.read.format("graft-cdc").options(opts).load()
      .select("id").collect().map(_.getLong(0)).toSet
    val q = spark.readStream.format("graft-cdc").options(opts).load()
      .writeStream.format("memory").queryName("cdc_pos_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val stream = spark.table("cdc_pos_out").select("id").collect().map(_.getLong(0)).toSet
    assert(batch === Set(3L, 4L, 5L))
    assert(stream === batch)
  }

  test("timestamp startup: stream and batch both read source.ts_ms first, inside a Connect payload too") {
    // source.ts_ms (binlog event time) and ts_ms (processing time) disagree
    // on every record; two records ride Connect-wrapped. Cutoff 500: the
    // event time decides, wherever the envelope carries it.
    def flat(id: Int, srcTs: Option[Long], ts: Long) =
      s"""{"before":null,"after":{"id":$id,"v":"x"},"op":"c","ts_ms":$ts,""" +
        s""""source":{"db":"db","table":"users"${srcTs.fold("")(t => s""","ts_ms":$t""")}}}"""
    def wrapped(id: Int, srcTs: Long, ts: Long) =
      s"""{"schema":{"type":"struct"},"payload":${flat(id, Some(srcTs), ts)}}"""
    val path = writeFeed(Seq(
      flat(1, Some(100L), 900L), // event time before the cutoff
      flat(2, Some(600L), 50L),
      wrapped(3, 200L, 700L), // event time before the cutoff
      wrapped(4, 800L, 10L),
      flat(5, None, 550L))) // no source.ts_ms: the envelope ts_ms serves
    val opts = Map(
      "path" -> path,
      "schema.ddl" -> "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))",
      "debezium-json.schema-include" -> "true",
      "scan.startup.mode" -> "timestamp",
      "scan.startup.timestamp-millis" -> "500")
    val batch = spark.read.format("graft-cdc").options(opts).load()
      .select("id").collect().map(_.getLong(0)).toSet
    val q = spark.readStream.format("graft-cdc").options(opts).load()
      .writeStream.format("memory").queryName("cdc_ts_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val stream = spark.table("cdc_ts_out").select("id").collect().map(_.getLong(0)).toSet
    assert(batch === Set(2L, 4L, 5L))
    assert(stream === batch)
  }

  test("gtid-set-only startup is rejected; stream-only modes are rejected") {
    val e = intercept[Exception](readBinlogFeed(
      "scan.startup.mode" -> "specific-offset",
      "scan.startup.specific-offset.gtid-set" -> "a:1-100").collect())
    assert(e.getMessage.contains("gtid-set"))
    val e2 = intercept[Exception](readBinlogFeed(
      "scan.startup.mode" -> "latest-offset").collect())
    assert(e2.getMessage.contains("stream concepts"))
  }

  test("readStream(graft-cdc): micro-batch stream matches the batch relation") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_dsv2_stream").toFile
    java.nio.file.Files.write(new java.io.File(dir, "f0.json").toPath,
      feed.take(2).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "f1.json").toPath,
      feed.drop(2).mkString("\n").getBytes("UTF-8"))
    val ddl = "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))"
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir.getAbsolutePath).option("schema.ddl", ddl)
      .option("maxFilesPerTrigger", "1").load()
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("cdc_stream_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // admission control paced the run: one file per micro-batch
    assert(q.recentProgress.count(_.numInputRows > 0) === 2)
    val got = spark.table("cdc_stream_out")
      .select(col("id"), col("v"), col("__op"), col("__seq"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val batch = spark.read.format("graft-cdc")
      .option("path", dir.getAbsolutePath).option("schema.ddl", ddl).load()
      .select(col("id"), col("v"), col("__op"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // same exploded multiset as the batch relation
    assert(got.sorted === batch.sorted)
    // __seq orders rows as (file, line): the f1 rows sort past the f0 rows
    val seqs = spark.table("cdc_stream_out").orderBy(col("__seq"))
      .select(col("__op")).collect().map(_.getString(0)).toSeq
    assert(seqs === Seq("+I", "-U", "+U", "+I", "-D"))
  }

  test("format option: canal-json and mongo-json serve the same relation, stream == batch") {
    val canalFeed = Seq(
      """{"old":null,"data":[{"id":1,"v":"a"},{"id":2,"v":"b"}],"type":"INSERT","database":"db","table":"users","pkNames":["id"]}""",
      """{"old":[{"id":1,"v":"a"}],"data":[{"id":1,"v":"a2"}],"type":"UPDATE","database":"db","table":"users","pkNames":["id"]}""",
      """{"old":null,"data":[{"id":2,"v":"b"}],"type":"DELETE","database":"db","table":"users","pkNames":["id"]}""")
    val mongoFeed = Seq(
      """{"_id":{"_data":"t1"},"operationType":"insert","clusterTime":1,"fullDocument":{"id":1,"v":"a"},"documentKey":{"id":1},"ns":{"db":"db","coll":"users"}}""",
      """{"_id":{"_data":"t2"},"operationType":"update","clusterTime":2,"fullDocument":{"id":1,"v":"a2"},"documentKey":{"id":1},"ns":{"db":"db","coll":"users"}}""",
      """{"_id":{"_data":"t3"},"operationType":"update","clusterTime":3,"fullDocument":null,"documentKey":{"id":9},"ns":{"db":"db","coll":"users"}}""",
      """{"_id":{"_data":"t4"},"operationType":"delete","clusterTime":4,"fullDocument":null,"documentKey":{"id":1},"ns":{"db":"db","coll":"users"}}""",
      """{"_id":{"_data":"t5"},"operationType":"drop","clusterTime":5,"fullDocument":null,"documentKey":null,"ns":{"db":"db","coll":"users"}}""")
    val ddl = "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))"
    def batchOps(fmt: String, path: String) = spark.read.format("graft-cdc")
      .option("path", path).option("schema.ddl", ddl).option("format", fmt).load()
      .select(col("id"), col("v"), col("__op"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("<null>"),
        r.getString(2))).toSeq
    def streamOps(fmt: String, path: String, name: String) = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", path).option("schema.ddl", ddl).option("format", fmt).load()
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.table(name).select(col("id"), col("v"), col("__op"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("<null>"),
          r.getString(2))).toSeq
    }
    val canalPath = writeFeed(canalFeed)
    val canalBatch = batchOps("canal-json", canalPath)
    // multi-row INSERT explodes both rows; UPDATE pairs old positionally
    assert(canalBatch.sorted === Seq(
      (1L, "a", "+I"), (2L, "b", "+I"),
      (1L, "a", "-U"), (1L, "a2", "+U"),
      (2L, "b", "-D")).sorted)
    assert(streamOps("canal-json", canalPath, "canal_stream_out").sorted === canalBatch.sorted)
    val mongoPath = writeFeed(mongoFeed)
    val mongoBatch = batchOps("mongo-json", mongoPath)
    // raced update (null post-image) and the collection drop signal vanish;
    // the delete carries only its key fields
    assert(mongoBatch.sorted === Seq(
      (1L, "a", "+I"), (1L, "a2", "+R"), (1L, "<null>", "-D")).sorted)
    assert(streamOps("mongo-json", mongoPath, "mongo_stream_out").sorted === mongoBatch.sorted)
  }

  test("readStream(graft-cdc): latest-offset starts past existing files") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_dsv2_latest").toFile
    java.nio.file.Files.write(new java.io.File(dir, "f0.json").toPath,
      feed.take(2).mkString("\n").getBytes("UTF-8"))
    val ddl = "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))"
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir.getAbsolutePath).option("schema.ddl", ddl)
      .option("scan.startup.mode", "latest-offset").load()
    val q = stream.writeStream.format("memory").queryName("cdc_latest_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50)).start()
    // first pass pins the initial offset PAST the file present at start
    q.processAllAvailable()
    assert(spark.table("cdc_latest_out").isEmpty)
    // a file arriving after start is new data
    java.nio.file.Files.write(new java.io.File(dir, "f1.json").toPath,
      feed.drop(2).mkString("\n").getBytes("UTF-8"))
    q.processAllAvailable()
    q.stop()
    val ops = spark.table("cdc_latest_out").orderBy(col("__seq"))
      .select(col("__op")).collect().map(_.getString(0)).toSeq
    assert(ops === Seq("+I", "-D")) // only f1's insert+delete
  }

  test("mid-stream DDL: ALTER envelope vanishes, widened rows decode on the pinned schema") {
    // the stream pins its schema at query start (schema.ddl); an
    // upstream ALTER lands mid-feed as (a) a schema-change envelope with
    // no row images and (b) subsequent events carrying the NEW column.
    // Contract: the DDL envelope emits no changelog row, widened events
    // decode against the pinned schema (unknown field ignored), offsets
    // stay file-granular, and a concurrent batch reader over the same
    // directory sees a consistent exploded relation. Pipelines wanting
    // the ALTER applied belong to StreamingPipeline's schema plane.
    val dir = java.nio.file.Files.createTempDirectory("cdc_dsv2_ddl").toFile
    java.nio.file.Files.write(new java.io.File(dir, "f0.json").toPath,
      feed.take(2).mkString("\n").getBytes("UTF-8"))
    val ddl = "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))"
    val q = spark.readStream.format("graft-cdc")
      .option("path", dir.getAbsolutePath).option("schema.ddl", ddl).load()
      .writeStream.format("memory").queryName("cdc_ddl_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50)).start()
    q.processAllAvailable()
    assert(spark.table("cdc_ddl_out").count() === 3) // +I, -U/+U from f0
    // the ALTER lands: a DDL envelope (no images), then events carrying
    // the post-ALTER extra column `w`
    java.nio.file.Files.write(new java.io.File(dir, "f1.json").toPath, Seq(
      """{"schemaChange":{"ddl":"ALTER TABLE users ADD COLUMN w INT"},"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":3,"v":"c","w":7},"op":"c","ts_ms":5,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":3,"v":"c","w":7},"after":null,"op":"d","ts_ms":6,"source":{"db":"db","table":"users"}}""")
      .mkString("\n").getBytes("UTF-8"))
    q.processAllAvailable()
    // a concurrent batch reader over the live directory agrees with the
    // stream's accumulated relation (same exploded multiset)
    val batch = spark.read.format("graft-cdc")
      .option("path", dir.getAbsolutePath).option("schema.ddl", ddl).load()
      .select(col("id"), col("v"), col("__op"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    q.stop()
    val got = spark.table("cdc_ddl_out")
      .select(col("id"), col("v"), col("__op"), col("__seq")).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
      === batch.sorted)
    // the DDL envelope vanished; the widened events decoded on the pinned
    // 2-column schema
    val f1 = got.filter(_.getLong(3) >= (1L << 33)).sortBy(_.getLong(3))
    assert(f1.map(_.getString(2)).toSeq === Seq("+I", "-D"))
    assert(f1.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((3L, "c"), (3L, "c")))
    // file-granular offsets: f1's rows carry fileIdx 1 seqs, line 1 and 2
    // (line 0 was the DDL envelope — its seq is consumed, not emitted)
    assert(f1.map(_.getLong(3)).toSeq === Seq((1L << 33) | 1L, (1L << 33) | 2L))
  }

  test("debezium-json.schema-include + connect-wire: real Debezium feeds decode, stream == batch") {
    // a stock Debezium topic with schemas.enable=true: Connect-wrapped
    // records whose temporals ride the WIRE forms the schema block
    // declares — epoch millis for DATETIME(3) (io.debezium.time.Timestamp),
    // int64 micros for TIME (MicroTime), epoch-day int32 (Date), ISO
    // offset strings for TIMESTAMP_LTZ (ZonedTimestamp). One flat record
    // (schemas.enable=false producer on the same topic) coexists.
    val wireFeed = Seq(
      """{"schema":{"type":"struct"},"payload":{"before":null,"after":{"id":1,"d":86400123,"t":45296789000,"dt":19000,"z":"2024-03-01T10:15:30.5Z","s":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"evts"}}}""",
      """{"schema":{"type":"struct"},"payload":{"before":{"id":1,"d":86400123,"t":45296789000,"dt":19000,"z":"2024-03-01T10:15:30.5Z","s":"a"},"after":{"id":1,"d":86400124,"t":45296789000,"dt":19000,"z":"2024-03-01T10:15:30.5Z","s":"a2"},"op":"u","ts_ms":2,"source":{"db":"db","table":"evts"}}}""",
      """{"before":null,"after":{"id":2,"d":172800001,"t":1000,"dt":0,"z":"1970-01-01T00:00:00Z","s":"b"},"op":"c","ts_ms":3,"source":{"db":"db","table":"evts"}}""")
    val ddl = "CREATE TABLE evts (id BIGINT PRIMARY KEY, d DATETIME(3), " +
      "t TIME(3), dt DATE, z TIMESTAMP, s VARCHAR(10))"
    val path = writeFeed(wireFeed)
    val consumeOpts = Map(
      "path" -> path, "schema.ddl" -> ddl,
      "debezium-json.schema-include" -> "true",
      "debezium-json.connect-wire.enabled" -> "true")
    val df = spark.read.format("graft-cdc").options(consumeOpts).load()
    // storage schema is the graft encoding, not the wire one
    assert(df.schema("d").dataType === TimestampNTZType)
    assert(df.schema("t").dataType === IntegerType)
    assert(df.schema("dt").dataType === DateType)
    assert(df.schema("z").dataType === TimestampType)
    def shape(rows: Seq[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getLong(0),
        r.getAs[java.time.LocalDateTime]("d").toString,
        r.getInt(r.fieldIndex("t")),
        r.getAs[java.sql.Date]("dt").toString,
        r.getAs[java.sql.Timestamp]("z").toInstant.toString,
        r.getString(r.fieldIndex("s")),
        r.getString(r.fieldIndex("__op")))
    }.sorted
    val batch = shape(df.collect().toSeq)
    assert(batch === Seq(
      (1L, "1970-01-02T00:00:00.123", 45296789, "2022-01-08",
        "2024-03-01T10:15:30.500Z", "a", "+I"),
      (1L, "1970-01-02T00:00:00.123", 45296789, "2022-01-08",
        "2024-03-01T10:15:30.500Z", "a", "-U"),
      (1L, "1970-01-02T00:00:00.124", 45296789, "2022-01-08",
        "2024-03-01T10:15:30.500Z", "a2", "+U"),
      (2L, "1970-01-03T00:00:00.001", 1, "1970-01-01",
        "1970-01-01T00:00:00Z", "b", "+I")).sorted)
    // each stream micro-batch runs the batch plan, so it converts identically
    val q = spark.readStream.format("graft-cdc").options(consumeOpts).load()
      .writeStream.format("memory").queryName("cdc_wire_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(shape(spark.table("cdc_wire_out").collect().toSeq) === batch)
    // debezium-only options are rejected on other formats
    val ex = intercept[Exception] {
      spark.read.format("graft-cdc").option("path", path)
        .option("schema.ddl", ddl).option("format", "canal-json")
        .option("debezium-json.connect-wire.enabled", "true").load().collect()
    }
    assert(ex.getMessage.contains("debezium-json only"))
  }

  private val ddl = "CREATE TABLE users (id BIGINT PRIMARY KEY, v VARCHAR(32))"

  /** A `graft-cdc` stream over `opts`, run to the end of the feed under
    * AvailableNow into a memory table: its rows, or its failure.
    */
  private def runStream(opts: Map[String, String], name: String)
      : Either[Throwable, Seq[String]] = {
    val q = spark.readStream.format("graft-cdc").options(opts).load()
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      Right(spark.table(name).collect().map(_.mkString("|")).toSeq.sorted)
    } catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Left(e) }
    finally q.stop()
  }

  private def rootMessage(t: Throwable): String =
    if (t.getCause == null) t.getMessage else rootMessage(t.getCause)

  test("property: stream == batch for every startup mode x format x feed shape") {
    // six events: (id, before, after, binlog file, binlog pos, event time)
    val events = Seq(
      (1, None, Some("a"), "bin.000001", 100, 10),
      (2, None, Some("b"), "bin.000001", 200, 20),
      (1, Some("a"), Some("a2"), "bin.000001", 300, 30),
      (2, Some("b"), None, "bin.000002", 4, 40),
      (3, None, Some("c"), "bin.000002", 50, 50),
      (3, Some("c"), Some("c2"), "bin.000002", 90, 60))
    def img(id: Int, v: Option[String]) = v.fold("null")(x => s"""{"id":$id,"v":"$x"}""")
    def debezium(e: (Int, Option[String], Option[String], String, Int, Int)) = {
      val (id, b, a, file, pos, ts) = e
      val op = if (b.isEmpty) "c" else if (a.isEmpty) "d" else "u"
      s"""{"before":${img(id, b)},"after":${img(id, a)},"op":"$op","ts_ms":${ts + 1000},""" +
        s""""source":{"db":"db","table":"users","file":"$file","pos":$pos,"ts_ms":$ts}}"""
    }
    def canal(e: (Int, Option[String], Option[String], String, Int, Int)) = {
      val (id, b, a, _, _, _) = e
      val (tpe, old, data) =
        if (b.isEmpty) ("INSERT", "null", s"[${img(id, a)}]")
        else if (a.isEmpty) ("DELETE", "null", s"[${img(id, b)}]")
        else ("UPDATE", s"[${img(id, b)}]", s"[${img(id, a)}]")
      s"""{"old":$old,"data":$data,"type":"$tpe","database":"db","table":"users","pkNames":["id"]}"""
    }
    def mongo(e: (Int, Option[String], Option[String], String, Int, Int)) = {
      val (id, b, a, _, pos, ts) = e
      val op = if (b.isEmpty) "insert" else if (a.isEmpty) "delete" else "update"
      s"""{"_id":{"_data":"t$pos"},"operationType":"$op","clusterTime":$ts,""" +
        s""""fullDocument":${img(id, a)},"documentKey":{"id":$id},"ns":{"db":"db","coll":"users"}}"""
    }
    val formats: Seq[(String, Map[String, String], Seq[String])] = Seq(
      ("debezium", Map.empty, events.map(debezium)),
      ("debezium-schema-include", Map("debezium-json.schema-include" -> "true"),
        events.map(e => s"""{"schema":{"type":"struct"},"payload":${debezium(e)}}""")),
      ("canal", Map("format" -> "canal-json"), events.map(canal)),
      ("mongo", Map("format" -> "mongo-json"), events.map(mongo)))
    val modes: Seq[(String, Map[String, String])] = Seq(
      "initial" -> Map("scan.startup.mode" -> "initial"),
      "earliest" -> Map("scan.startup.mode" -> "earliest-offset"),
      "pos" -> Map("scan.startup.mode" -> "specific-offset",
        "scan.startup.specific-offset.pos" -> "1"),
      "file+pos" -> Map("scan.startup.mode" -> "specific-offset",
        "scan.startup.specific-offset.file" -> "bin.000001",
        "scan.startup.specific-offset.pos" -> "250"),
      "timestamp" -> Map("scan.startup.mode" -> "timestamp",
        "scan.startup.timestamp-millis" -> "35"))
    // one file, or three files of 2, 1 and 3 lines
    val shapes: Seq[(String, Seq[Int])] = Seq("one-file" -> Seq(6), "three-files" -> Seq(2, 1, 3))
    var accepted, rejected = 0
    for ((fmt, fmtOpts, all) <- formats; (mode, modeOpts) <- modes;
         (shape, sizes) <- shapes) {
      val dir = java.nio.file.Files.createTempDirectory("cdc_parity").toFile
      sizes.scanLeft(0)(_ + _).sliding(2).zipWithIndex.foreach { case (Seq(from, to), i) =>
        java.nio.file.Files.write(new java.io.File(dir, f"part-$i%03d.json").toPath,
          all.slice(from, to).mkString("\n").getBytes("UTF-8"))
      }
      val opts = Map("path" -> dir.getAbsolutePath, "schema.ddl" -> ddl,
        "maxFilesPerTrigger" -> "1") ++ fmtOpts ++ modeOpts
      val label = s"$fmt x $mode x $shape"
      val batch = scala.util.Try(spark.read.format("graft-cdc").options(opts).load()
        .collect().map(_.mkString("|")).toSeq.sorted).toEither
      val stream = runStream(opts, s"cdc_parity_${accepted + rejected}")
      (batch, stream) match {
        case (Right(b), Right(st)) =>
          assert(st === b, label)
          assert(b.nonEmpty, label)
          accepted += 1
        case (Left(be), Left(se)) =>
          assert(rootMessage(se) === rootMessage(be), label)
          rejected += 1
        case other => fail(s"$label: the faces disagree: $other")
      }
    }
    // canal has no event time; binlog coordinates are debezium-only
    assert(rejected === 2 * (1 + 2))
    assert(accepted === 40 - rejected)
  }

  test("readStream(graft-cdc): an unsupported startup mode fails the query on an empty feed") {
    // no file ever arrives, so no micro-batch runs: the source itself
    // must reject canal + timestamp, with the batch relation's message
    val dir = java.nio.file.Files.createTempDirectory("cdc_empty_startup").toFile
    val opts = Map("path" -> dir.getAbsolutePath, "schema.ddl" -> ddl,
      "format" -> "canal-json", "scan.startup.mode" -> "timestamp",
      "scan.startup.timestamp-millis" -> "35")
    val batch = intercept[Exception](spark.read.format("graft-cdc").options(opts).load().collect())
    assert(rootMessage(batch).contains("canal-json envelopes carry no event timestamp"))
    runStream(opts, "cdc_empty_startup") match {
      case Left(e) => assert(rootMessage(e) === rootMessage(batch))
      case Right(rows) => fail(s"the stream accepted canal + timestamp: $rows")
    }
  }

  test("readStream(graft-cdc): restart on a checkpoint reads only the new file") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_resume").toFile
    val out = java.nio.file.Files.createTempDirectory("cdc_resume_out").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_resume_ckpt").toFile
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        lines.mkString("\n").getBytes("UTF-8"))
    write("f0.json", feed.take(2))
    write("f1.json", feed.slice(2, 3))
    def run() = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir.getAbsolutePath).option("schema.ddl", ddl).load()
        .writeStream.format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, q.exception)
      q
    }
    run()
    assert(spark.read.parquet(out.getAbsolutePath).count() === 4) // +I, -U/+U, +I
    write("f2.json", feed.drop(3))
    val second = run()
    // the restarted query resumes at the checkpointed offset: its only
    // batch admits f2 alone
    val admitted = second.recentProgress.filter(_.numInputRows > 0)
    assert(admitted.map(p => (p.sources.head.startOffset, p.sources.head.endOffset)).toSeq ===
      Seq(("""{"files":2}""", """{"files":3}""")))
    val rows = spark.read.parquet(out.getAbsolutePath)
    val newRows = rows.where(col("__seq") >= (2L << 33))
      .select(col("id"), col("__op"), col("__seq")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(newRows === Seq((2L, "-D", 2L << 33)))
    assert(rows.count() === 5)
  }

  test("readStream(graft-cdc): maxFilesPerTrigger must be a positive integer") {
    val path = writeFeed(feed)
    for (bad <- Seq("0", "x")) {
      val e = intercept[Exception] {
        val q = spark.readStream.format("graft-cdc")
          .option("path", path).option("schema.ddl", ddl)
          .option("maxFilesPerTrigger", bad).load()
          .writeStream.format("memory").queryName(s"cdc_max_files_$bad")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(60000) finally q.stop()
      }
      assert(rootMessage(e).contains("maxFilesPerTrigger"), rootMessage(e))
      assert(rootMessage(e).contains(bad), rootMessage(e))
    }
  }
}
