package graft.pipeline

import graft.SparkSpec
import graft.model._
import graft.sinks.ValuesDatabase
import graft.sources.ValuesSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class PipelineSpec extends SparkSpec {

  private val t1 = TableId.parse("default_namespace.default_schema.table1")
  private def info(fields: (String, DataType)*) = TableInfo(
    StructType(fields.map { case (n, d) => StructField(n, d) }),
    primaryKeys = Seq(fields.head._1))

  private def yamlDef(transform: String = "", route: String = "",
      behavior: String = "lenient") = YamlPipelineParser.parse(
    s"""source: { type: values }
       |sink: { type: values }
       |$transform
       |$route
       |pipeline: { schema.change.behavior: $behavior }
       |""".stripMargin)

  test("end-to-end: insert/update/delete materialize in the values sink") {
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "col2" -> StringType)),
      DataChangeEvent.insert(t1, Row("1", "a")),
      DataChangeEvent.insert(t1, Row("2", "b")),
      DataChangeEvent.update(t1, Row("2", "b"), Row("2", "b2")),
      DataChangeEvent.delete(t1, Row("1", "a")))
    val sink = new ValuesDatabase
    new PipelineRunner(spark, yamlDef(), new ValuesSource(script), sink).run()
    assert(sink.results(t1) === Seq("default_namespace.default_schema.table1:2;b2"))
  }

  test("schema evolution mid-stream: add column, rename under LENIENT") {
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "col2" -> StringType)),
      DataChangeEvent.insert(t1, Row("1", "a")),
      AddColumnEvent(t1, Seq((StructField("col3", StringType), ColumnPosition.Last))),
      DataChangeEvent.insert(t1, Row("2", "b", "c3")),
      RenameColumnEvent(t1, Map("col2" -> "newCol2")),
      DataChangeEvent.insert(t1, Row("3", "b3", "c3b")))
    val sink = new ValuesDatabase
    new PipelineRunner(spark, yamlDef(), new ValuesSource(script), sink).run()
    // LENIENT: col2 stays, newCol2 appended; row3's payload lands in newCol2
    assert(sink.info(t1).get.fieldNames === Seq("col1", "col2", "col3", "newCol2"))
    assert(sink.results(t1) === Seq(
      "default_namespace.default_schema.table1:1;a;null;null",
      "default_namespace.default_schema.table1:2;b;c3;null",
      "default_namespace.default_schema.table1:3;null;c3b;b3"))
  }

  test("route: sharded tables merge with widened schema") {
    val sA = TableId.parse("db.shard_1")
    val sB = TableId.parse("db.shard_2")
    val merged = TableId.parse("db.all")
    val script = Seq(
      CreateTableEvent(sA, info("id" -> IntegerType, "name" -> StringType)),
      CreateTableEvent(sB, TableInfo(
        StructType(Seq(StructField("id", LongType), StructField("name", StringType),
          StructField("extra", DoubleType))), primaryKeys = Seq("id"))),
      DataChangeEvent.insert(sA, Row(1, "a")),
      DataChangeEvent.insert(sB, Row(2L, "b", 2.5)))
    val sink = new ValuesDatabase
    val pd = yamlDef(route =
      """route:
        |  - source-table: db.shard_\.*
        |    sink-table: db.all
        |""".stripMargin)
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    assert(sink.info(merged).get.schema("id").dataType === LongType)
    assert(sink.results(merged).toSet === Set("db.all:1;a;null", "db.all:2;b;2.5"))
  }

  test("route merge: progressive numeric promotion chain (reference decimal ITCase)") {
    // FlinkPipelineComposerITCase.testMergingDecimalWithVariousPrecisions:
    // shards whose fav_num widens TINYINT -> SMALLINT -> INT -> BIGINT ->
    // DECIMAL(19,0) -> DECIMAL(24,5) -> (16,2 absorbs) -> DECIMAL(38,19),
    // each arriving CreateTable altering the routed sink's merged type and
    // re-encoding previously landed rows.
    val merged = TableId.parse("db.merged")
    def shard(n: String) = TableId.parse(s"db.num_$n")
    def mk(n: String, t: DataType) = CreateTableEvent(shard(n), TableInfo(
      StructType(Seq(StructField("id", IntegerType), StructField("name", StringType),
        StructField("fav_num", t))), primaryKeys = Seq("id")))
    def jbd(s: String) = new java.math.BigDecimal(s)
    val steps: Seq[(Seq[Event], DataType)] = Seq(
      (Seq(mk("tiny", ByteType),
        DataChangeEvent.insert(shard("tiny"), Row(1, "Alice", 1.toByte))), ByteType),
      (Seq(mk("small", ShortType),
        DataChangeEvent.insert(shard("small"), Row(2, "Alice", 22.toShort))), ShortType),
      (Seq(mk("vanilla", IntegerType),
        DataChangeEvent.insert(shard("vanilla"), Row(3, "Alice", 3333))), IntegerType),
      (Seq(mk("big", LongType),
        DataChangeEvent.insert(shard("big"), Row(4, "Alice", 44444444L))), LongType),
      (Seq(mk("dec15", DecimalType(15, 0)),
        DataChangeEvent.insert(shard("dec15"), Row(5, "Alice", jbd("555555555555555")))),
        DecimalType(19, 0)),
      (Seq(mk("dec105", DecimalType(10, 5)),
        DataChangeEvent.insert(shard("dec105"), Row(6, "Alice", jbd("66666.66666")))),
        DecimalType(24, 5)),
      (Seq(mk("dec162", DecimalType(16, 2)),
        DataChangeEvent.insert(shard("dec162"), Row(7, "Alice", jbd("77777777.17")))),
        DecimalType(24, 5)), // 16,2 fits inside 24,5: no ALTER
      (Seq(mk("dec2919", DecimalType(29, 19)),
        DataChangeEvent.insert(shard("dec2919"), Row(8, "Alice", jbd("888888888.8888888888888888888")))),
        DecimalType(38, 19)))
    val route = "route:\n  - source-table: db.num_\\.*\n    sink-table: db.merged\n"
    // each prefix replay must land on the reference's promoted type for
    // that stage — the chain, not just the endpoint
    steps.indices.foreach { i =>
      val sink = new ValuesDatabase
      new PipelineRunner(spark, yamlDef(route = route),
        new ValuesSource(steps.take(i + 1).flatMap(_._1)), sink).run()
      assert(sink.info(merged).get.schema("fav_num").dataType === steps(i)._2,
        s"stage $i promoted type")
    }
    val sink = new ValuesDatabase
    // the reference's "Zen" tail: rows landing in a NARROW shard after
    // full promotion must re-encode at the promoted DECIMAL(38,19)
    new PipelineRunner(spark, yamlDef(route = route),
      new ValuesSource(steps.flatMap(_._1) :+
        DataChangeEvent.insert(shard("tiny"), Row(101, "Zen", 2.toByte))), sink).run()
    val rows = sink.results(merged)
    assert(rows.size === 9)
    // arrival-time rows keep their arrival encoding (the reference's
    // event log renders row 1 as "1" too); post-promotion arrivals carry
    // the merged 19-digit scale, and the widest row survives losslessly
    assert(rows.exists(_.contains("101;Zen;2.0000000000000000000")))
    assert(rows.exists(_.contains("888888888.8888888888888888888")))
  }

  test("route merge: temporal promotion to timestamp (reference temporal ITCase)") {
    // testMergingTemporalTypesWithPromotedPrecisions, collapsed onto
    // Spark's temporal lattice: DATE and TIMESTAMP_NTZ promote to
    // session-zone TIMESTAMP when any shard carries one. (Spark has a
    // single microsecond timestamp precision, so the reference's
    // TIMESTAMP(0..9) precision ladder is N/A by design — SURVEY §1.)
    val merged = TableId.parse("db.tmerged")
    def shard(n: String) = TableId.parse(s"db.ts_$n")
    def mk(n: String, t: DataType) = CreateTableEvent(shard(n), TableInfo(
      StructType(Seq(StructField("id", IntegerType), StructField("born", t))),
      primaryKeys = Seq("id")))
    val script = Seq(
      mk("date", DateType),
      DataChangeEvent.insert(shard("date"), Row(1, java.sql.Date.valueOf("2020-03-01"))),
      mk("ntz", TimestampNTZType),
      DataChangeEvent.insert(shard("ntz"),
        Row(2, java.time.LocalDateTime.parse("2021-06-15T12:30:00"))),
      mk("ltz", TimestampType),
      DataChangeEvent.insert(shard("ltz"),
        Row(3, java.sql.Timestamp.valueOf("2022-09-30 08:00:01"))),
      // date arriving AFTER promotion re-encodes as midnight UTC timestamp
      DataChangeEvent.insert(shard("date"), Row(4, java.sql.Date.valueOf("2023-01-02"))))
    val sink = new ValuesDatabase
    new PipelineRunner(spark, yamlDef(route =
      "route:\n  - source-table: db.ts_\\.*\n    sink-table: db.tmerged\n"),
      new ValuesSource(script), sink).run()
    assert(sink.info(merged).get.schema("born").dataType === TimestampType)
    val rows = sink.results(merged)
    assert(rows.size === 4)
    assert(rows.exists(_.contains("2023-01-02 00:00:00")))
  }

  test("route merge: zoned shard promotes the chain to TIMESTAMP_TZ (reference temporal ITCase tail)") {
    // the reference chain tops out at TIMESTAMP_TZ
    // (SchemaMergingUtils.mergeTimestampType): once a zoned shard joins,
    // LTZ arrivals re-encode as (instant, tz) with the session's Z offset
    val merged = TableId.parse("db.zmerged")
    def shard(n: String) = TableId.parse(s"db.zs_$n")
    def mk(n: String, t: DataType) = CreateTableEvent(shard(n), TableInfo(
      StructType(Seq(StructField("id", IntegerType), StructField("born", t))),
      primaryKeys = Seq("id")))
    val zt = graft.schema.SchemaMerging.ZonedTsType
    val script = Seq(
      mk("ltz", TimestampType),
      DataChangeEvent.insert(shard("ltz"),
        Row(1, java.sql.Timestamp.valueOf("2022-09-30 08:00:01"))),
      mk("tz", zt),
      DataChangeEvent.insert(shard("tz"),
        Row(2, Row(java.sql.Timestamp.valueOf("2024-03-01 04:45:30"), "+05:30"))),
      // an LTZ arrival AFTER promotion carries the pinned Z offset
      DataChangeEvent.insert(shard("ltz"),
        Row(3, java.sql.Timestamp.valueOf("2023-01-02 00:00:00"))))
    val sink = new ValuesDatabase
    new PipelineRunner(spark, yamlDef(route =
      "route:\n  - source-table: db.zs_\\.*\n    sink-table: db.zmerged\n"),
      new ValuesSource(script), sink).run()
    assert(sink.info(merged).get.schema("born").dataType === zt)
    val rows = sink.results(merged)
    assert(rows.size === 3)
    assert(rows.exists(r => r.contains("+05:30")))
    assert(rows.exists(r => r.contains("2023-01-02 00:00:00") && r.contains("Z")))
  }

  test("transform: projection + filter with op conversion end-to-end") {
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "v" -> IntegerType)),
      DataChangeEvent.insert(t1, Row("1", 10)),
      DataChangeEvent.insert(t1, Row("2", 3)),
      DataChangeEvent.update(t1, Row("1", 10), Row("1", 2)), // pass->fail => DELETE
      DataChangeEvent.insert(t1, Row("3", 30)))
    val sink = new ValuesDatabase
    val pd = yamlDef(transform =
      """transform:
        |  - source-table: default_namespace.default_schema.table1
        |    projection: "col1, v * 10 AS v10"
        |    filter: "v > 5"
        |    primary-keys: col1
        |""".stripMargin)
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    assert(sink.info(t1).get.fieldNames === Seq("col1", "v10"))
    assert(sink.results(t1).toSet === Set(
      "default_namespace.default_schema.table1:3;300"))
  }

  test("wildcard transform + schema evolution: adds surface before computed columns") {
    // FlinkPipelineTransformITCase.testPreAsteriskWithSchemaEvolution:
    // under `*, computed` the star zone tracks upstream DDL — a
    // Last-positioned add lands at the END OF THE STAR ZONE (before the
    // computed tail), positioned adds keep their anchors, and renames of
    // surviving columns propagate.
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "v" -> IntegerType)),
      DataChangeEvent.insert(t1, Row("1", 10)),
      AddColumnEvent(t1, Seq((StructField("extra", StringType), ColumnPosition.Last))),
      DataChangeEvent.insert(t1, Row("2", 20, "x")),
      RenameColumnEvent(t1, Map("v" -> "w")),
      DataChangeEvent.insert(t1, Row("3", 30, "y")))
    val sink = new ValuesDatabase
    val pd = yamlDef(transform =
      """transform:
        |  - source-table: default_namespace.default_schema.table1
        |    projection: "*, col1 || '!' AS bang"
        |    primary-keys: col1
        |""".stripMargin, behavior = "evolve")
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    assert(sink.info(t1).get.fieldNames === Seq("col1", "w", "extra", "bang"))
    assert(sink.results(t1).toSet === Set(
      "default_namespace.default_schema.table1:1;10;null;1!",
      "default_namespace.default_schema.table1:2;20;x;2!",
      "default_namespace.default_schema.table1:3;30;y;3!"))
  }

  test("post-asterisk transform + schema evolution: star zone trails the computed head") {
    // testPostAsteriskWithSchemaEvolution: under `computed, *` the star
    // zone sits AFTER the computed head, and upstream adds land inside it
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "v" -> IntegerType)),
      DataChangeEvent.insert(t1, Row("1", 10)),
      AddColumnEvent(t1, Seq((StructField("extra", StringType), ColumnPosition.Last))),
      DataChangeEvent.insert(t1, Row("2", 20, "x")))
    val sink = new ValuesDatabase
    val pd = yamlDef(transform =
      """transform:
        |  - source-table: default_namespace.default_schema.table1
        |    projection: "col1 || '!' AS bang, *"
        |    primary-keys: bang
        |""".stripMargin, behavior = "evolve")
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    assert(sink.info(t1).get.fieldNames === Seq("bang", "col1", "v", "extra"))
    assert(sink.results(t1).toSet === Set(
      "default_namespace.default_schema.table1:1!;1;10;null",
      "default_namespace.default_schema.table1:2!;2;20;x"))
  }

  test("hyphenated and reserved column names flow through transform and DDL") {
    // testTransformWithColumnNameMap: `class` (reserved), `foo-bar`
    // (hyphenated) survive backtick quoting in projection + filter, and
    // positioned add / rename / drop of hyphenated names evolve through
    val script = Seq(
      CreateTableEvent(t1, TableInfo(
        StructType(Seq(StructField("class", StringType),
          StructField("foo-bar", IntegerType), StructField("bar-foo", IntegerType))),
        primaryKeys = Seq("class"))),
      DataChangeEvent.insert(t1, Row("class1", 1, 10)),
      DataChangeEvent.insert(t1, Row("neg", -1, 10)), // filtered out
      AddColumnEvent(t1, Seq((StructField("import-package", StringType),
        ColumnPosition.After("bar-foo")))),
      RenameColumnEvent(t1, Map("bar-foo" -> "bar-baz")),
      DropColumnEvent(t1, Seq("bar-baz")),
      DataChangeEvent.insert(t1, Row("class2", 2, "pkg2")))
    val sink = new ValuesDatabase
    val pd = yamlDef(transform =
      """transform:
        |  - source-table: default_namespace.default_schema.table1
        |    projection: "*"
        |    filter: "`foo-bar` > 0"
        |    primary-keys: class
        |""".stripMargin, behavior = "evolve")
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    assert(sink.info(t1).get.fieldNames === Seq("class", "foo-bar", "import-package"))
    assert(sink.results(t1).toSet === Set(
      "default_namespace.default_schema.table1:class1;1;null",
      "default_namespace.default_schema.table1:class2;2;pkg2"))
  }

  test("explicit transform + schema evolution: unreferenced adds ignored, type changes flow through computed columns") {
    // testExplicitTransformWithSchemaEvolution: an explicit column list
    // pins the sink schema — adding an unreferenced upstream column is a
    // no-op downstream — while an upstream ALTER of a REFERENCED column
    // retypes the computed output (the derived AlterColumnTypeEvent the
    // reference's SchemaDerivator emits).
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "v" -> IntegerType)),
      DataChangeEvent.insert(t1, Row("1", 10)),
      AddColumnEvent(t1, Seq((StructField("junk", StringType), ColumnPosition.Last))),
      DataChangeEvent.insert(t1, Row("2", 20, "zzz")),
      AlterColumnTypeEvent(t1, Map("v" -> DoubleType)),
      DataChangeEvent.insert(t1, Row("3", 30.5, "zzz")))
    val sink = new ValuesDatabase
    val pd = yamlDef(transform =
      """transform:
        |  - source-table: default_namespace.default_schema.table1
        |    projection: "col1, v + 1 AS v1"
        |    primary-keys: col1
        |""".stripMargin, behavior = "evolve")
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    assert(sink.info(t1).get.fieldNames === Seq("col1", "v1"))
    assert(sink.info(t1).get.schema("v1").dataType === DoubleType)
    // rows 1–2 keep their arrival-time INT encoding (event-log semantics,
    // same as the decimal-promotion ITCase); row 3 lands post-ALTER
    assert(sink.results(t1).toSet === Set(
      "default_namespace.default_schema.table1:1;11",
      "default_namespace.default_schema.table1:2;21",
      "default_namespace.default_schema.table1:3;31.5"))
  }

  test("schema change behaviors: EVOLVE, IGNORE, EXCEPTION, TRY_EVOLVE") {
    def run(behavior: String): (ValuesDatabase, () => Unit) = {
      val script = Seq(
        CreateTableEvent(t1, info("col1" -> StringType, "col2" -> StringType)),
        DataChangeEvent.insert(t1, Row("1", "a")),
        DropColumnEvent(t1, Seq("col2")),
        DataChangeEvent.insert(t1, Row("2")))
      val sink = new ValuesDatabase
      val runner = new PipelineRunner(spark, yamlDef(behavior = behavior),
        new ValuesSource(script), sink)
      (sink, () => runner.run())
    }
    // EVOLVE applies the drop: sink schema loses col2
    val (evolveSink, evolveRun) = run("evolve"); evolveRun()
    assert(evolveSink.info(t1).get.fieldNames === Seq("col1"))
    assert(evolveSink.results(t1).toSet ===
      Set("default_namespace.default_schema.table1:1",
        "default_namespace.default_schema.table1:2"))
    // IGNORE keeps the original sink schema; dropped column null-fills
    val (ignoreSink, ignoreRun) = run("ignore"); ignoreRun()
    assert(ignoreSink.info(t1).get.fieldNames === Seq("col1", "col2"))
    assert(ignoreSink.results(t1).toSet ===
      Set("default_namespace.default_schema.table1:1;a",
        "default_namespace.default_schema.table1:2;null"))
    // EXCEPTION refuses the DDL
    val (_, exceptionRun) = run("exception")
    intercept[IllegalStateException](exceptionRun())
    // TRY_EVOLVE behaves like EVOLVE when the sink can apply it
    val (trySink, tryRun) = run("try_evolve"); tryRun()
    assert(trySink.info(t1).get.fieldNames === Seq("col1"))
  }

  test("exclude.schema.changes: excluded drop family is ignored, data still flows") {
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "col2" -> StringType)),
      DataChangeEvent.insert(t1, Row("1", "a")),
      DropColumnEvent(t1, Seq("col2")), // excluded: sink keeps col2
      DataChangeEvent.insert(t1, Row("2")), // upstream rows now lack col2
      AddColumnEvent(t1, Seq((StructField("col3", StringType), ColumnPosition.Last))),
      DataChangeEvent.insert(t1, Row("3", "c3")))
    val sink = new ValuesDatabase
    val pd = YamlPipelineParser.parse(
      """source: { type: values }
        |sink:
        |  type: values
        |  exclude.schema.changes: [drop]
        |pipeline: { schema.change.behavior: evolve }
        |""".stripMargin)
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    // the drop was filtered (col2 survives, null-filled) but the add — not
    // excluded — applied; all three rows flowed
    assert(sink.info(t1).get.fieldNames === Seq("col1", "col2", "col3"))
    assert(sink.results(t1).toSet === Set(
      "default_namespace.default_schema.table1:1;a;null",
      "default_namespace.default_schema.table1:2;null;null",
      "default_namespace.default_schema.table1:3;null;c3"))
  }

  test("include.schema.changes: only included families reach the sink") {
    val script = Seq(
      CreateTableEvent(t1, info("col1" -> StringType, "col2" -> StringType)),
      DataChangeEvent.insert(t1, Row("1", "a")),
      AddColumnEvent(t1, Seq((StructField("col3", StringType), ColumnPosition.Last))), // included
      DataChangeEvent.insert(t1, Row("2", "b", "c3")),
      RenameColumnEvent(t1, Map("col2" -> "renamed")), // NOT included: filtered
      DataChangeEvent.insert(t1, Row("3", "b3", "c3b")))
    val sink = new ValuesDatabase
    val pd = YamlPipelineParser.parse(
      """source: { type: values }
        |sink:
        |  type: values
        |  include.schema.changes: [add]
        |pipeline: { schema.change.behavior: evolve }
        |""".stripMargin)
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    // add.column applied; rename.column filtered — sink never sees
    // "renamed"; row 3's payload arrives under the upstream name, so the
    // sink's col2 null-fills (same as the reference's per-sink filtering)
    assert(sink.info(t1).get.fieldNames === Seq("col1", "col2", "col3"))
    assert(sink.results(t1).toSet === Set(
      "default_namespace.default_schema.table1:1;a;null",
      "default_namespace.default_schema.table1:2;b;c3",
      "default_namespace.default_schema.table1:3;null;c3b"))
  }

  test("YAML parser reads the reference pipeline shape") {
    val pd = YamlPipelineParser.parse(
      """source:
        |  type: values
        |  tables: db.\.*
        |sink:
        |  type: values
        |transform:
        |  - source-table: db.t1
        |    projection: "id, upper(name) AS name"
        |    filter: "id > 0"
        |    primary-keys: id
        |    table-options: "bucket=4, owner=x"
        |route:
        |  - source-table: db.t\.*
        |    sink-table: sink.merged
        |    replace-symbol: <t>
        |pipeline:
        |  name: sync
        |  parallelism: 4
        |  schema.change.behavior: evolve
        |  local-time-zone: Asia/Shanghai
        |""".stripMargin)
    assert(pd.source.options("tables") === "db.\\.*")
    assert(pd.transforms.head.tableOptions === Map("bucket" -> "4", "owner" -> "x"))
    assert(pd.routes.head.replaceSymbol === Some("<t>"))
    assert(pd.parallelism === 4)
    assert(pd.schemaChangeBehavior === graft.schema.SchemaChangeBehavior.Evolve)
    // PipelineOptions.java:92-110 local-time-zone: carried, validated
    assert(pd.localTimeZone === Some("Asia/Shanghai"))
    val zoneErr = intercept[IllegalArgumentException](YamlPipelineParser.parse(
      """source:
        |  type: values
        |sink:
        |  type: values
        |pipeline:
        |  local-time-zone: Mars/Olympus
        |""".stripMargin))
    assert(zoneErr.getMessage.contains("not a valid zone id"))
    // the runner applies the declared zone as the session zone (the
    // mechanism LOCALTIMESTAMP / DATE_FORMAT-on-LTZ render through)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      new PipelineRunner(spark, pd,
        new graft.sources.ValuesSource(Nil), new graft.sinks.ValuesDatabase)
      assert(spark.conf.get("spark.sql.session.timeZone") === "Asia/Shanghai")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("YAML user-defined-function block registers by classpath and runs in a projection") {
    val pd = YamlPipelineParser.parse(
      """source: { type: values }
        |sink: { type: values }
        |transform:
        |  - source-table: db.t
        |    projection: "id, ADDN(v) AS v_plus, BANG(name) AS name_bang"
        |pipeline:
        |  user-defined-function:
        |    - name: addn
        |      classpath: graft.functions.AddNUdf
        |      options:
        |        n: 5
        |    - name: bang
        |      classpath: graft.functions.BangUdf
        |""".stripMargin)
    assert(pd.udfs === Seq(
      UdfDef("addn", "graft.functions.AddNUdf", Map("n" -> "5")),
      UdfDef("bang", "graft.functions.BangUdf")))

    val tid = TableId.parse("db.t")
    val tinfo = TableInfo(StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType),
      StructField("name", StringType))), primaryKeys = Seq("id"))
    val script = Seq(
      CreateTableEvent(tid, tinfo),
      DataChangeEvent.insert(tid, Row(1L, 10, "a")),
      DataChangeEvent.insert(tid, Row(2L, 20, "b")))
    val sink = new ValuesDatabase
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    // AddN opened with n=5 (lifecycle honored); Bang has no lifecycle
    assert(sink.results(tid).toSet === Set("db.t:1;15;a!", "db.t:2;25;b!"))
  }

  test("CLI runs a pipeline file end to end: debezium-file source, UDF, values sink") {
    val dir = java.nio.file.Files.createTempDirectory("cli").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    java.nio.file.Files.write(new java.io.File(feed, "f1.json").toPath, Seq(
      """{"before":null,"after":{"id":1,"v":10},"op":"c","ts_ms":1,"source":{"db":"db","table":"t"}}""",
      """{"source":{"db":"db","table":"t"},"ddl":"ALTER TABLE t ADD COLUMN note VARCHAR(20)"}""",
      """{"before":null,"after":{"id":2,"v":20,"note":"hi"},"op":"c","ts_ms":2,"source":{"db":"db","table":"t"}}"""
    ).mkString("\n").getBytes("UTF-8"))
    val yaml =
      s"""source:
         |  type: debezium-file
         |  path: ${feed.getAbsolutePath}
         |  table: db.t
         |  schema.ddl: "CREATE TABLE t (id BIGINT PRIMARY KEY, v INT)"
         |sink: { type: values }
         |transform:
         |  - source-table: db.t
         |    projection: "*, ADDN(v) AS v_plus"
         |pipeline:
         |  name: cli_demo
         |  user-defined-function:
         |    - name: addn
         |      classpath: graft.functions.AddNUdf
         |      options:
         |        n: 100
         |""".stripMargin
    val out = graft.tools.Cli.run(spark, yaml)
    assert(out.head.startsWith("pipeline 'cli_demo'"))
    // the wire DDL widened the schema mid-feed (lenient: `note` appends
    // after the transform's output columns); the UDF computed v_plus
    assert(out.tail.toSet === Set("db.t:1;10;110;null", "db.t:2;20;120;hi"))
  }

  test("CLI multi-table feed: shards on one topic route into one sink table") {
    val dir = java.nio.file.Files.createTempDirectory("cli_multi").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    java.nio.file.Files.write(new java.io.File(feed, "f1.json").toPath, Seq(
      """{"before":null,"after":{"id":1,"name":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"shard_1"}}""",
      """{"before":null,"after":{"id":2,"name":"b"},"op":"c","ts_ms":2,"source":{"db":"db","table":"shard_2"}}""",
      """{"before":{"id":1,"name":"a"},"after":{"id":1,"name":"a2"},"op":"u","ts_ms":3,"source":{"db":"db","table":"shard_1"}}"""
    ).mkString("\n").getBytes("UTF-8"))
    val yaml =
      s"""source:
         |  type: debezium-file
         |  path: ${feed.getAbsolutePath}
         |  tables: db.shard_1, db.shard_2
         |  schema.ddl.shard_1: "CREATE TABLE shard_1 (id BIGINT PRIMARY KEY, name VARCHAR(10))"
         |  schema.ddl.shard_2: "CREATE TABLE shard_2 (id BIGINT PRIMARY KEY, name VARCHAR(10))"
         |sink: { type: values }
         |route:
         |  - source-table: db.shard_\\.*
         |    sink-table: db.all
         |pipeline:
         |  name: cli_shards
         |""".stripMargin
    val out = graft.tools.Cli.run(spark, yaml)
    assert(out.head.startsWith("pipeline 'cli_shards'"))
    assert(out.tail.toSet === Set("db.all:1;a2", "db.all:2;b"))
  }

  test("CLI canal-file source: multi-row messages drive the same pipeline path") {
    val dir = java.nio.file.Files.createTempDirectory("cli_canal").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    java.nio.file.Files.write(new java.io.File(feed, "f1.json").toPath, Seq(
      """{"old":null,"data":[{"id":1,"v":10},{"id":2,"v":20}],"type":"INSERT","database":"db","table":"t","pkNames":["id"]}""",
      """{"old":[{"id":1,"v":10}],"data":[{"id":1,"v":11}],"type":"UPDATE","database":"db","table":"t","pkNames":["id"]}"""
    ).mkString("\n").getBytes("UTF-8"))
    val yaml =
      s"""source:
         |  type: canal-file
         |  path: ${feed.getAbsolutePath}
         |  table: db.t
         |  schema.ddl: "CREATE TABLE t (id BIGINT PRIMARY KEY, v INT)"
         |sink: { type: values }
         |pipeline:
         |  name: cli_canal
         |""".stripMargin
    val out = graft.tools.Cli.run(spark, yaml)
    assert(out.head.startsWith("pipeline 'cli_canal'"))
    assert(out.tail.toSet === Set("db.t:1;11", "db.t:2;20"))
  }

  test("CLI rejects debezium-only consume options on a canal-file source") {
    val dir = java.nio.file.Files.createTempDirectory("cli_canal_opts").toFile
    val yaml =
      s"""source:
         |  type: canal-file
         |  path: ${dir.getAbsolutePath}
         |  table: db.t
         |  schema.ddl: "CREATE TABLE t (id BIGINT PRIMARY KEY, v INT)"
         |  debezium-json.schema-include: true
         |sink: { type: values }
         |pipeline:
         |  name: cli_canal_opts
         |""".stripMargin
    val ex = intercept[IllegalArgumentException](graft.tools.Cli.run(spark, yaml))
    // the graft-cdc provider's message: one validation serves both
    assert(ex.getMessage.contains("apply to format debezium-json only, not canal-json"))
  }

  test("CLI names the parquet sink option whose value is malformed") {
    val dir = java.nio.file.Files.createTempDirectory("cli_sink_opts").toFile
    def run(sinkOpts: String): String = {
      val yaml =
        s"""source:
           |  type: debezium-file
           |  path: ${dir.getAbsolutePath}
           |  table: db.t
           |  schema.ddl: "CREATE TABLE t (id BIGINT PRIMARY KEY, v INT)"
           |sink:
           |  type: parquet
           |  path: ${dir.getAbsolutePath}/out
           |  $sinkOpts
           |pipeline:
           |  name: cli_sink_opts
           |""".stripMargin
      intercept[IllegalArgumentException](graft.tools.Cli.run(spark, yaml)).getMessage
    }
    assert(run("buckets: x") === "sink.buckets must be an integer of at least 1: x")
    assert(run("buckets: 0") === "sink.buckets must be an integer of at least 1: 0")
    // quoted: a bare YAML 1.1 `yes` already reads as the boolean true
    assert(run("merge-on-read: \"yes\"") === "sink.merge-on-read must be true or false: yes")
    // nothing reached the sink directory
    assert(!new java.io.File(dir, "out").exists())
  }

  test("CLI mongo-file source: change-stream envelopes route per collection") {
    val dir = java.nio.file.Files.createTempDirectory("cli_mongo").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    java.nio.file.Files.write(new java.io.File(feed, "f1.json").toPath, Seq(
      // users: insert, then an update post-image
      """{"_id":{"_data":"82A1"},"operationType":"insert","clusterTime":1,"fullDocument":{"id":1,"v":10},"documentKey":{"id":1},"ns":{"db":"app","coll":"users"}}""",
      """{"_id":{"_data":"82A2"},"operationType":"update","clusterTime":2,"fullDocument":{"id":1,"v":11},"documentKey":{"id":1},"ns":{"db":"app","coll":"users"}}""",
      // orders: replace upsert + delete-raced update (must be dropped)
      """{"_id":{"_data":"82A3"},"operationType":"replace","clusterTime":3,"fullDocument":{"id":7,"v":70},"documentKey":{"id":7},"ns":{"db":"app","coll":"orders"}}""",
      """{"_id":{"_data":"82A4"},"operationType":"update","clusterTime":4,"fullDocument":null,"documentKey":{"id":7},"ns":{"db":"app","coll":"orders"}}""",
      // users: delete by documentKey; orders collection drop -> ignored
      """{"_id":{"_data":"82A5"},"operationType":"delete","clusterTime":5,"documentKey":{"id":1},"ns":{"db":"app","coll":"users"}}""",
      """{"_id":{"_data":"82A6"},"operationType":"drop","clusterTime":6,"ns":{"db":"app","coll":"orders"}}"""
    ).mkString("\n").getBytes("UTF-8"))
    val yaml =
      s"""source:
         |  type: mongo-file
         |  path: ${feed.getAbsolutePath}
         |  tables: app.users, app.orders
         |  schema.ddl.app.users: "CREATE TABLE users (id BIGINT PRIMARY KEY, v INT)"
         |  schema.ddl.app.orders: "CREATE TABLE orders (id BIGINT PRIMARY KEY, v INT)"
         |sink: { type: values }
         |pipeline:
         |  name: cli_mongo
         |""".stripMargin
    val out = graft.tools.Cli.run(spark, yaml)
    assert(out.head.startsWith("pipeline 'cli_mongo'"))
    // users id=1 was deleted (tombstone wins); orders kept the replace,
    // the raced update and the collection drop changed nothing
    assert(out.tail.toSet === Set("app.orders:7;70"))
  }

  test("YAML model block parses and drives a transform projection") {
    val pd = YamlPipelineParser.parse(
      """source: { type: values }
        |sink: { type: values }
        |transform:
        |  - source-table: db.docs
        |    projection: "id, GET_EMB(body) AS emb"
        |pipeline:
        |  name: modeled
        |  model:
        |    - model-name: GET_EMB
        |      class-name: OpenAIEmbeddingModel
        |      openai.model: text-embedding-3-small
        |      openai.host: http://example.invalid/v1
        |      openai.apikey: demo
        |      embedding.dim: 8
        |""".stripMargin)
    assert(pd.models === Seq(ModelDef("GET_EMB", "OpenAIEmbeddingModel", Map(
      "openai.model" -> "text-embedding-3-small",
      "openai.host" -> "http://example.invalid/v1",
      "openai.apikey" -> "demo",
      "embedding.dim" -> "8"))))

    // end to end: the declared model function evaluates inside the transform
    import graft.model._
    import org.apache.spark.sql.types._
    val tid = TableId.parse("db.docs")
    val tinfo = TableInfo(StructType(Seq(
      StructField("id", LongType), StructField("body", StringType))),
      primaryKeys = Seq("id"))
    val script = Seq(
      CreateTableEvent(tid, tinfo),
      DataChangeEvent.insert(tid, org.apache.spark.sql.Row(1L, "hello world")))
    val sink = new ValuesDatabase
    new PipelineRunner(spark, pd, new graft.sources.ValuesSource(script), sink).run()
    val row = sink.rows(tid).head
    assert(row.head === 1L)
    assert(row(1).asInstanceOf[collection.Seq[Float]].length === 8)
  }

  // ---- YAML red paths, ported from the reference e2e corpus
  // flink-cdc-e2e-tests/flink-cdc-pipeline-e2e-tests/src/test/resources/
  // rules/{invalid,malformed,incomplete,unexpected}.yaml ----

  private def parseError(yaml: String): String =
    intercept[IllegalArgumentException](YamlPipelineParser.parse(yaml)).getMessage

  test("YAML red path: unexpected keys fail loudly (invalid/unexpected.yaml)") {
    // unexpected top-level block (`execution`, `mapping`)
    val topErr = parseError(
      """source:
        |  type: values
        |sink:
        |  type: values
        |mapping:
        |  - source: userUuid
        |    sink: uuid
        |""".stripMargin)
    assert(topErr.contains("Unexpected key `mapping` in YAML top-level block"))
    assert(topErr.contains(
      "Allowed keys in this context are: [source, sink, route, transform, pipeline]"))
    // unexpected transform block key, with the ignored-before note
    val trErr = parseError(
      """source:
        |  type: values
        |sink:
        |  type: values
        |transform:
        |  - source-table: foo.bar
        |    mapping:
        |      - source: userUuid
        |        sink: uuid
        |""".stripMargin)
    assert(trErr.contains("Unexpected key `mapping` in YAML transform block"))
    assert(trErr.contains("converter-after-transform"))
    assert(trErr.contains("silently ignored in previous versions"))
    // unexpected route block key (`regex-style`, `transformers`)
    val rtErr = parseError(
      """source:
        |  type: values
        |sink:
        |  type: values
        |route:
        |  - source-table: foo.bar
        |    sink-table: fun.baz
        |    regex-style: java
        |""".stripMargin)
    assert(rtErr.contains("Unexpected key `regex-style` in YAML route block"))
    assert(rtErr.contains(
      "Allowed keys in this context are: [source-table, sink-table, replace-symbol, description]"))
    // unexpected UDF block key
    val udfErr = parseError(
      """source:
        |  type: values
        |sink:
        |  type: values
        |pipeline:
        |  user-defined-function:
        |    - name: addone
        |      classpath: com.example.AddOne
        |      language: clojure
        |""".stripMargin)
    assert(udfErr.contains("Unexpected key `language` in YAML UDF block"))
    assert(udfErr.contains("""option language: "clojure" is unexpected"""))
  }

  test("YAML red path: blocks that must be arrays reject objects (malformed.yaml)") {
    for ((block, yaml) <- Seq(
      "transform" ->
        """source:
          |  type: values
          |sink:
          |  type: values
          |transform:
          |  source-table: foo.bar
          |""".stripMargin,
      "route" ->
        """source:
          |  type: values
          |sink:
          |  type: values
          |route:
          |  source-table: foo.bar
          |""".stripMargin,
      "UDF" ->
        """source:
          |  type: values
          |sink:
          |  type: values
          |pipeline:
          |  user-defined-function:
          |    name: addone
          |    classpath: com.example.AddOne
          |""".stripMargin,
      "model" ->
        """source:
          |  type: values
          |sink:
          |  type: values
          |pipeline:
          |  model:
          |    model-name: GET_EMBEDDING
          |    class-name: OpenAIEmbeddingModel
          |""".stripMargin)) {
      val err = parseError(yaml)
      assert(err.contains(
        s"YAML $block block is expecting an array children, but got an OBJECT"),
        s"$block: $err")
      assert(err.contains("Perhaps you missed a dash prefix `-`?"), s"$block: $err")
      assert(err.contains("""{"source-table":"foo.bar"}""") ||
        err.contains(""""name":"addone"""") ||
        err.contains(""""model-name":"GET_EMBEDDING""""), s"$block: $err")
    }
  }

  test("YAML red path: missing required fields name their block (incomplete.yaml)") {
    assert(parseError(
      """source:
        |  type: values
        |""".stripMargin)
      .contains("""Missing required field "sink" in top-level configuration"""))
    assert(parseError(
      """sink:
        |  type: values
        |""".stripMargin)
      .contains("""Missing required field "source" in top-level configuration"""))
    assert(parseError(
      """source:
        |  type: values
        |sink:
        |  type: values
        |transform:
        |  - projection: "*"
        |""".stripMargin)
      .contains("""Missing required field "source-table" in transform configuration"""))
    assert(parseError(
      """source:
        |  type: values
        |sink:
        |  type: values
        |route:
        |  - sink-table: foo.bar.baz
        |""".stripMargin)
      .contains("""Missing required field "source-table" in route configuration"""))
    assert(parseError(
      """source:
        |  type: values
        |sink:
        |  type: values
        |route:
        |  - source-table: foo.bar.baz
        |""".stripMargin)
      .contains("""Missing required field "sink-table" in route configuration"""))
  }

  test("YAML red path: a present-but-empty block parses as empty, not malformed") {
    // 'transform:' with only comments under it reaches snakeyaml as a
    // null value — semantically an empty list, not a missed-dash object
    val pd = YamlPipelineParser.parse(
      """source:
        |  type: values
        |sink:
        |  type: values
        |transform:
        |  # all rules commented out
        |route:
        |""".stripMargin)
    assert(pd.transforms.isEmpty && pd.routes.isEmpty)
  }

  test("YAML red path: a well-formed file still parses after the strict checks") {
    val pd = YamlPipelineParser.parse(
      """source:
        |  type: values
        |sink:
        |  type: values
        |transform:
        |  - source-table: db.t
        |    projection: "id, name"
        |    description: keep the narrow columns
        |route:
        |  - source-table: db.shard_\.*
        |    sink-table: db.merged
        |    description: fan shards in
        |pipeline:
        |  name: strict-ok
        |""".stripMargin)
    assert(pd.name === "strict-ok")
    assert(pd.transforms.size === 1 && pd.routes.size === 1)
  }

  // ---- YAML green path, ported from the reference e2e corpus
  // flink-cdc-e2e-tests/flink-cdc-pipeline-e2e-tests/src/test/resources/
  // rules/vanilla.yaml (driven there by a live MySQL; here the same
  // `exec sql` steps replay through DdlParser + ValuesSource, and the
  // check-block jm/tm expectation lines compare byte-for-byte) ----

  test("YAML green path: rules/vanilla.yaml steps replay with exact jm/tm lines") {
    import graft.cdc.DdlParser
    val db = "db" // the $database$ placeholder
    val tid = TableId.parse(s"$db.foo")

    // step 1 exec: CREATE + 5 inserts
    val create = DdlParser.parse(
      "CREATE TABLE foo (idx BIGINT NOT NULL PRIMARY KEY, name VARCHAR(17));", tid).head
    val firstRows = Seq(1L -> "Alice", 2L -> "Brett", 3L -> "Cicada",
      4L -> "Derrida", 5L -> "Eve")
    // step 3 exec: ALTER ADD + 3 wider inserts
    val addCol = DdlParser.parse(
      "ALTER TABLE foo ADD COLUMN (digits DOUBLE);", tid).head
    val widerRows = Seq((6L, "Faye", 3.14), (7L, "Gem", 2.71828), (8L, "Helen", 1.414))
    // step 5 exec: UPDATE ... WHERE idx < 4
    val updates = Seq("Alice", "Brett", "Cicada").zipWithIndex.map { case (n, i) =>
      DataChangeEvent.update(tid,
        Row(i + 1L, n, null), Row(i + 1L, n, 42.0d))
    }
    val script: Seq[Event] =
      (create +: firstRows.map { case (i, n) => DataChangeEvent.insert(tid, Row(i, n)) }) ++
        (addCol +: widerRows.map { case (i, n, d) =>
          DataChangeEvent.insert(tid, Row(i, n, d)) }) ++ updates

    // step 2 submit: the vanilla pipeline block (parallelism: 1 only)
    val pd = YamlPipelineParser.parse(
      """source: { type: values }
        |sink: { type: values }
        |pipeline:
        |  parallelism: 1
        |""".stripMargin)
    val sink = new RefFormatSink
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()

    // check-block expectations, verbatim from rules/vanilla.yaml
    val jm1 = "CreateTableEvent{tableId=db.foo, schema=columns={`idx` BIGINT " +
      "NOT NULL,`name` VARCHAR(17)}, primaryKeys=idx, options=()}"
    val jm2 = "AddColumnEvent{tableId=db.foo, addedColumns=[ColumnWithPosition{" +
      "column=`digits` DOUBLE, position=LAST, existedColumnName=null}]}"
    val tm1 = Seq("Alice", "Brett", "Cicada", "Derrida", "Eve").zipWithIndex.map {
      case (n, i) => s"DataChangeEvent{tableId=db.foo, before=[], " +
        s"after=[${i + 1}, $n], op=INSERT, meta=()}"
    }
    val tm2 = Seq(
      "DataChangeEvent{tableId=db.foo, before=[], after=[6, Faye, 3.14], op=INSERT, meta=()}",
      "DataChangeEvent{tableId=db.foo, before=[], after=[7, Gem, 2.71828], op=INSERT, meta=()}",
      "DataChangeEvent{tableId=db.foo, before=[], after=[8, Helen, 1.414], op=INSERT, meta=()}")
    val tm3 = Seq("Alice", "Brett", "Cicada").zipWithIndex.map { case (n, i) =>
      s"DataChangeEvent{tableId=db.foo, before=[${i + 1}, $n, null], " +
        s"after=[${i + 1}, $n, 42.0], op=UPDATE, meta=()}"
    }
    assert(sink.lines.toSeq === (jm1 +: tm1) ++ (jm2 +: tm2) ++ tm3)
    // the jm log-line framing the reference greps for
    assert(s"Successfully applied schema change event ${sink.lines.head} " +
      "to external system." ===
      "Successfully applied schema change event " + jm1 + " to external system.")
    // materialized end state: 8 rows, updates applied, untouched rows null
    assert(sink.db.rows(tid).size === 8)
    val digitsById = sink.db.rows(tid).map(r => r.head -> r.last).toMap
    assert(Seq(1L, 2L, 3L).map(digitsById) === Seq(42.0, 42.0, 42.0))
    assert(digitsById(5L) === null)
    assert(digitsById(6L) === 3.14)
  }

  test("deferred writes merge only adjacent writes to the same sink table") {
    // db.a routes to db.x AND db.y, db.b to db.x: a write to db.x joins
    // the held one only while it is the most recent, so a fan-out write in
    // between keeps the sink's line order (and per-sink write order)
    val (a, b) = (TableId.parse("db.a"), TableId.parse("db.b"))
    val (x, y) = (TableId.parse("db.x"), TableId.parse("db.y"))
    val kv = info("id" -> LongType, "v" -> StringType)
    val script = Seq(CreateTableEvent(a, kv), CreateTableEvent(b, kv),
      DataChangeEvent.insert(a, Row(1L, "a1")),
      DataChangeEvent.insert(b, Row(2L, "b1")),
      DataChangeEvent.insert(a, Row(3L, "a2")),
      FlushEvent(Nil),
      DataChangeEvent.insert(b, Row(4L, "b2")),
      DataChangeEvent.insert(a, Row(5L, "a3")))
    val ref = new RefFormatSink
    val writes = scala.collection.mutable.Buffer.empty[TableId]
    val sink = new graft.sinks.DataSink {
      override def applySchemaChange(e: SchemaChangeEvent): Unit = ref.applySchemaChange(e)
      override def write(t: TableId, df: org.apache.spark.sql.DataFrame, i: TableInfo): Unit = {
        writes += t; ref.write(t, df, i)
      }
    }
    val pd = PipelineDef(SourceDef("values", Map.empty),
      SinkDef("values", Map.empty), routes = Seq(
        graft.route.RouteRule("db.a", "db.x"), graft.route.RouteRule("db.a", "db.y"),
        graft.route.RouteRule("db.b", "db.x")))
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    def ins(t: TableId, id: Long, v: String) =
      EventRender.dataChange(t, Nil, Seq(id.toString, v), "INSERT")
    assert(ref.lines.take(2).map(_.takeWhile(_ != ',')) ===
      Seq("CreateTableEvent{tableId=db.x", "CreateTableEvent{tableId=db.y"))
    assert(ref.lines.drop(2) === Seq(
      // batch 1: a -> x, a -> y, b -> x; the y write separates the x writes
      ins(x, 1, "a1"), ins(x, 3, "a2"), ins(y, 1, "a1"), ins(y, 3, "a2"), ins(x, 2, "b1"),
      // batch 2: b -> x and a -> x are adjacent and merge; then a -> y
      ins(x, 4, "b2"), ins(x, 5, "a3"), ins(y, 5, "a3")))
    assert(writes === Seq(x, y, x, x, y))
  }
}
