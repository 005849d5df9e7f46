package graftbench

import graft.cdc.{CanalJson, Changelog, DdlParser, DebeziumJson}
import graft.model.{TableId, TableInfo}
import graft.pipeline.PipelineDef
import graft.route.TableIdRouter
import graft.schema.SchemaMerging
import graft.transform.TransformEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Per-layer metrics of one traced window: spans, self times along the
  * blocking path, host-engine counters and JVM state.
  */
final class LayerMetrics(ctx: Ctx) {
  import ctx.sc
  var coreWall = 0.0
  var untracedWall = 0.0
  private val o = ctx.out

  /** Run `f` traced. The listeners are attached only for the window, so
    * the untraced core the overhead is measured against runs without them.
    */
  def window(name: String)(f: => Unit): Unit = {
    val spark = ctx.spark
    Listeners.drain(spark)
    ctx.engine.reset(); ctx.progress.batches.clear(); Trace.clear()
    spark.sparkContext.addSparkListener(ctx.engine)
    spark.streams.addListener(ctx.progress)
    Trace.on = true
    val heap = new Proc.HeapSampler
    val root = Trace.open(s"workload $name", "bench")
    val t0 = System.nanoTime()
    var rootSpan: Trace.Span = null
    try f finally {
      rootSpan = root.close()
      Listeners.drain(spark)
      Trace.on = false
      spark.streams.removeListener(ctx.progress)
      spark.sparkContext.removeSparkListener(ctx.engine)
      o.put("jvm.heap_used_peak_mb", heap.stop(), "MB")
    }
    finish(name, rootSpan, (System.nanoTime() - t0) / 1e6)
  }

  def spanMs(name: String): Double =
    Trace.all.filter(_.name == name).map(_.dur).sum / 1000.0

  /** Sink-layer metrics from the wrapper; read amplification from one
    * extra read whose scanned rows come from task input metrics.
    */
  def sinkMetrics(sink: TimedSink, tables: Seq[TableId]): Unit = {
    o.put("sinks.write_ms", sink.writes.total, "ms")
    o.put("sinks.write_calls", sink.writes.calls, "count")
    o.put("sinks.write_ms_p50", sink.writes.p50, "ms")
    o.put("sinks.schema_change_ms", sink.schemaChanges.total, "ms")
    o.put("sinks.schema_change_calls", sink.schemaChanges.calls, "count")
    o.put("sinks.compact_ms", sink.compacts.total, "ms")
    o.put("sinks.files_written", sink.filesWritten, "count")
    o.put("sinks.write_amplification",
      sink.bytesWritten.toDouble / math.max(1L, sink.tableBytes), "ratio")
    Listeners.drain(ctx.spark)
    val before = ctx.engine.totals.inputRecords
    val rows = Trace.span("replay.read", "sinks")(RowHash.consumeAll(tables.map(sink.inner.read)))
    Listeners.drain(ctx.spark)
    val scanned = ctx.engine.totals.inputRecords - before
    o.put("sinks.read_amplification", scanned.toDouble / math.max(1L, rows), "ratio")
  }

  def schemaChanges(sink: TimedSink): Unit =
    o.put("schema.changes_applied", sink.evolutions, "count")

  def snapshot(src: TimedSource, rowsPerS: Double, snapshotS: Double, sinkMs: Double): Unit = {
    o.put("pipeline.snapshot_rows_per_s", rowsPerS, "rows/s")
    o.put("pipeline.batch_ms_p50", src.batchesMs.p50, "ms")
    o.put("pipeline.driver_ms",
      snapshotS * 1000 - spanMs("source.chunk_plan") - src.pulls.total - src.planMs - sinkMs, "ms")
    o.put("sources.chunks", math.max(0, src.pulls.calls - 1), "count")
    o.put("sources.chunk_plan_ms", spanMs("source.chunk_plan"), "ms")
    o.put("sources.pull_ms", src.pulls.total + src.planMs, "ms")
  }

  private def finish(name: String, root: Trace.Span, wallMs: Double): Unit = {
    val spans = Trace.nestInBatches(Trace.all)
    val self = Trace.selfTimes(root, spans)
    val byId = spans.map(s => s.id -> s).toMap
    val layerSelf = self.toSeq.groupBy { case (id, _) => byId.get(id).map(_.layer).getOrElse("bench") }
      .map { case (l, xs) => l -> xs.map(_._2).sum / 1000.0 }
    ctx.catalogue.layers.foreach(l => o.put(s"$l.self_ms", layerSelf.getOrElse(l, 0.0), "ms"))
    val unattributed = layerSelf.getOrElse("bench", 0.0)
    o.put("bench.unattributed_ms", unattributed, "ms")
    o.put("bench.traced_wall_ms", root.dur / 1000.0, "ms")
    val sum = layerSelf.values.sum
    o.info("trace.self_time_check") =
      f"self times $sum%.1f ms = traced wall ${root.dur / 1000.0}%.1f ms (unattributed $unattributed%.1f ms)"
    if (untracedWall > 0)
      o.put("bench.trace_overhead_share", (coreWall - untracedWall) / untracedWall, "ratio")

    // streaming layer from the progress reports
    val batches = scala.jdk.CollectionConverters.IterableHasAsScala(ctx.progress.batches)
      .asScala.toSeq.filter(_.rows > 0)
    val jobs = ctx.engine.jobs.toSeq
    o.put("streaming.batches", batches.size, "count")
    o.put("streaming.batch_ms_p50", Stats.median(batches.map(_.triggerMs.toDouble)), "ms")
    o.put("streaming.add_batch_ms", Stats.median(batches.map(_.addBatchMs.toDouble)), "ms")
    o.put("streaming.control_ms",
      Stats.median(batches.map(b => (b.triggerMs - b.addBatchMs).toDouble)), "ms")
    val inBatch = batches.map { b =>
      val (s, e) = (b.startMs * 1000, (b.startMs + b.triggerMs) * 1000)
      jobs.filter { case (js, je, _) => js >= s - 1000 && je <= e + 1000 }
    }
    o.put("streaming.jobs_per_batch",
      if (batches.isEmpty) 0.0 else inBatch.map(_.size).sum.toDouble / batches.size, "count")
    o.put("streaming.fast_path_share",
      if (batches.isEmpty) 0.0 else inBatch.count(!_.exists(_._3)).toDouble / batches.size, "ratio")

    // host engine
    val t = ctx.engine.totals
    o.put("spark.jobs", t.jobs, "count")
    o.put("spark.stages", t.stages, "count")
    o.put("spark.tasks", t.tasks, "count")
    o.put("spark.task_run_ms", t.taskRunMs, "ms")
    o.put("spark.task_cpu_ms", t.taskCpuNs / 1e6, "ms")
    o.put("spark.gc_ms", t.gcMs, "ms")
    o.put("spark.shuffle_write_mb", t.shuffleWrite / 1048576.0, "MB")
    o.put("spark.shuffle_read_mb", t.shuffleRead / 1048576.0, "MB")
    o.put("spark.spill_mb", t.spill / 1048576.0, "MB")
    o.put("spark.input_mb", t.inputBytes / 1048576.0, "MB")
    o.put("spark.output_mb", t.outputBytes / 1048576.0, "MB")
    o.put("spark.core_busy_share", t.taskRunMs / (wallMs * ctx.cores), "ratio")
    o.put("jvm.code_cache_mb", Proc.codeCacheMb, "MB")

    // spans out, for offline reading
    val dir = new java.io.File(ctx.benchDir.getParentFile, ".bench_build/traces")
    dir.mkdirs()
    val f = new java.io.File(dir, s"$name-seed${ctx.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(s"""{"workload":${Json.str(name)},"trace":${Trace.traceId},""" +
        s""""env":${Main.envJson(ctx)},"self_ms":{""" +
        self.toSeq.map { case (id, us) => s""""$id":${us / 1000.0}""" }.mkString(",") +
        "},\"spans\":[")
      w.println(spans.map(Trace.toJson).mkString(",\n"))
      w.println("]}")
    } finally w.close()
    o.info("trace.file") = dir.getName + "/" + f.getName
  }
}

/** Layer replays: the workload's own feed pushed through single layers,
  * each result consumed by the same full-row hash. This is how the
  * data-plane layers get a time even though they run lazily inside
  * `sink.write`.
  */
object Replay {
  final case class Feed(dir: java.io.File, format: String, tables: Seq[(TableId, TableInfo)],
      pipeline: PipelineDef, ddl: Seq[(TableId, String)], tablesPerEvent: Seq[TableId],
      injectedMalformed: Long)

  private def decode(format: String, df: DataFrame, schema: StructType): DataFrame =
    (if (format == "canal") CanalJson.decode(df, "value", schema)
     else DebeziumJson.decode(df, "value", schema)).drop("__table", Changelog.MetaCol)

  def run(ctx: Ctx, feed: Feed): Unit = {
    import ctx.sc
    val o = ctx.out
    val spark = ctx.spark
    val raw = spark.read.text(feed.dir.getAbsolutePath)
    val multi = feed.tables.size > 1
    val input = (if (multi) raw.withColumn("__t", coalesce(
        get_json_object(col("value"), "$.table"), get_json_object(col("value"), "$.source.table")))
      else raw).localCheckpoint(true)
    val lines = input.count()
    def slice(t: TableId): DataFrame =
      if (multi) input.where(col("__t") === t.table).select("value") else input.select("value")
    val engine = new TransformEngine(spark, feed.pipeline.transforms)

    // each replay: one warm pass, one measured pass
    def timed(span: String, layer: String)(f: => Long): (Long, Double) = {
      Trace.span(span + ".warm", layer)(f)
      val t0 = System.nanoTime()
      val n = Trace.span(span, layer)(f)
      (n, (System.nanoTime() - t0) / 1e6)
    }
    def perTable(f: (TableId, StructType) => DataFrame): Long =
      feed.tables.map { case (t, i) => RowHash.consume(f(t, i.schema))._1 }.sum

    val (decoded, decodeMs) = timed("replay.decode", "cdc")(
      perTable((t, s) => decode(feed.format, slice(t), s)))
    val (transformed, decTransMs) = timed("replay.decode_transform", "transform")(
      perTable((t, s) => engine.transformChangelog(t, decode(feed.format, slice(t), s))))
    val (_, decExplodeMs) = timed("replay.decode_explode", "cdc")(
      perTable((t, s) => Changelog.explode(decode(feed.format, slice(t), s))))
    o.put("cdc.decode_ms", decodeMs, "ms")
    o.put("cdc.decode_events_per_s", lines / (decodeMs / 1000), "events/s")
    o.put("cdc.explode_ms", decExplodeMs - decodeMs, "ms")
    o.put("transform.ms", decTransMs - decodeMs, "ms")
    o.put("transform.rows_in", decoded, "count")
    o.put("transform.rows_out", transformed, "count")

    // malformed envelopes: rows whose envelope parses to nothing
    val env = if (feed.format == "canal") CanalJson.envelopeSchema(StructType(Nil))
      else DebeziumJson.envelopeSchema(StructType(Nil))
    val parsed = input.select(from_json(col("value"), env).as("e"))
    val nullish = env.fieldNames.map(f => col(s"e.$f").isNull).reduce(_ && _)
    val malformed = parsed.where(col("e").isNull || nullish).count()
    o.put("cdc.malformed_rows", malformed, "count")
    o.put("cdc.malformed_injected", feed.injectedMalformed, "count")

    // route: the driver-side table routing, once per event
    val (_, routeMs) = timed("replay.route", "route") {
      val router = new TableIdRouter(feed.pipeline.routes, feed.pipeline.routeMode)
      feed.tablesPerEvent.foreach(router.route); feed.tablesPerEvent.size.toLong
    }
    o.put("route.ms", routeMs, "ms")
    o.put("route.calls", feed.tablesPerEvent.size, "count")

    // DDL parse and shard-schema merge at each DDL point
    val (_, ddlMs) = timed("replay.ddl_parse", "cdc") {
      feed.ddl.map { case (t, s) => DdlParser.parse(s, t).size.toLong }.sum
    }
    o.put("cdc.ddl_parse_ms", ddlMs, "ms")
    o.put("cdc.ddl_statements", feed.ddl.size, "count")
    val routes = new TableIdRouter(feed.pipeline.routes, feed.pipeline.routeMode)
    val merged = feed.tables.filter { case (t, _) => routes.route(t) != Seq(t) }
    val (mergeCalls, mergeMs) = timed("replay.schema_merge", "schema") {
      val schemas = scala.collection.mutable.LinkedHashMap(merged.map { case (t, i) => t -> i }: _*)
      var calls = 0L
      feed.ddl.foreach { case (t, s) =>
        schemas.get(t).foreach { i =>
          DdlParser.parse(s, t).foreach(e => schemas(t) = schemas(t).applySchemaChange(e))
          SchemaMerging.leastCommonSchema(schemas.values.map(_.schema).toSeq)
          calls += 1
        }
      }
      calls
    }
    o.put("schema.merge_ms", mergeMs, "ms")
    o.put("schema.merge_calls", mergeCalls, "count")
  }
}
