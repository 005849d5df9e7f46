package graftbench

import graft.model.{TableId, TableInfo}
import graft.pipeline.{PipelineDef, PipelineRunner, SinkDef, SourceDef}
import graft.sinks.ParquetUpsertSink
import graft.sources.{ChunkedSnapshotSource, JdbcChunkSplitter}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `upsert-stream`: one Debezium-JSON table through the merge-on-read
  * ParquetUpsertSink with no transform, route or DDL — snapshot, catch-up,
  * live and read phases.
  */
object UpsertStream {
  val Table: TableSpec = TableSpec("app", "accounts", Seq(
    "a_int" -> Kind.Int32, "a_long" -> Kind.Big, "balance" -> Kind.Dbl,
    "credit" -> Kind.Dec, "name" -> Kind.Str,
    "tier" -> Kind.Pick(Seq("gold", "silver", "bronze")), "updated" -> Kind.Ts,
    "active" -> Kind.Bool))
  val Tid: TableId = TableId.parse(Table.id)
  val Info: TableInfo = TableInfo(Table.schema, primaryKeys = Seq("id"))
  private val kinds: Map[String, Kind] = (("id" -> (Kind.Big: Kind)) +: Table.cols).toMap
  val Pipeline: PipelineDef = PipelineDef(
    SourceDef("debezium-json", Map.empty), SinkDef("parquet-upsert", Map.empty))

  /** Workload constants: fixed, never adapted at run time. */
  final case class Size(snapshotRows: Int, backlogFiles: Int, eventsPerFile: Int,
      filesPerTrigger: Int)
  // 4 snapshot chunks at the reference's default chunk size (8096 rows);
  // 30k backlog events drained as 4 micro-batches of 7.5k
  val Full: Size = Size(4 * JdbcChunkSplitter.DefaultChunkSize, 12, 2500, 3)
  val Warm: Size = Size(1000, 2, 500, 1)
  val ZipfS = 1.1
  val CreateShare = 0.10
  val DeleteShareOfExisting: Double = 0.10 / 0.90
  val LiveIntervalMs = 40L
  val LiveEventsPerFile = 25 // 625 events/s offered
  def liveFiles(seconds: Int): Int = math.max(125, seconds * 8)
  /** Repetitions of the read phase; read_s is their median. */
  val Reads = 3

  /** The source database and its change log: snapshot rows, then Zipf-
    * skewed creates/updates/deletes in deterministic `ts_ms` order.
    */
  final class Gen(seed: Long, size: Size) {
    private val rnd = new java.util.Random(seed)
    private val zipf = new Zipf(size.snapshotRows, ZipfS)
    private val perm: Array[Long] = {
      val a = Array.tabulate(size.snapshotRows)(i => i + 1L)
      var i = a.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    val stats = new TrafficStats
    private val log = new KeyedLog(DeleteShareOfExisting, stats)
    (1L to size.snapshotRows.toLong).foreach(log.load)
    private var nextId = size.snapshotRows + 1L
    private var ts = 0L

    def image(id: Long, ver: Int): Image = Image(("id" -> id) +: Table.cols.zipWithIndex.map {
      case ((c, k), i) => c -> k.value(Mix.of(seed, id, ver.toLong, i.toLong))
    })

    def snapshotRows: java.util.List[Row] =
      (1L to size.snapshotRows.toLong).map(id => Row.fromSeq(image(id, 0).values.map(_._2))).asJava

    /** Next change event as a JSON line, plus its key. */
    def event(): (String, Long) = {
      val c =
        if (rnd.nextDouble() < CreateShare) { val id = nextId; nextId += 1; log.create(id) }
        else {
          val rank = zipf.sample(rnd)
          stats.hit(rank)
          log.change(perm(rank), rnd)
        }
      ts += 1
      def js(v: Int) = if (v < 0) "null" else image(c.id, v).json(kinds)
      val line = s"""{"before":${js(c.before)},"after":${js(c.after)},"op":"${c.op}",""" +
        s""""ts_ms":$ts,"source":{"db":"app","table":"accounts"}}"""
      stats.lines += 1; stats.bytes += line.length
      (line, c.id)
    }

    /** Expected table state: last image per key in log order. */
    def expected: Seq[String] = {
      val cols = ("id" +: Table.cols.map(_._1))
      log.live.toSeq.map { case (id, v) => RowHash.canonRow(cols, image(id, v).values.map(_._2)) }
    }
  }

  final class Dirs(root: java.io.File) {
    val db = new java.io.File(root, "db/accounts")
    val backlog = new java.io.File(root, "backlog")
    val live = new java.io.File(root, "live")
    val staging = new java.io.File(root, "staging")
    val sink = new java.io.File(root, "sink")
    val cpCatchup = new java.io.File(root, "cp-catchup")
    val cpLive = new java.io.File(root, "cp-live")
  }

  /** Set-up: generate the initial state, create the source table and
    * pre-stage the catch-up backlog.
    */
  def setup(ctx: Ctx, seed: Long, size: Size, root: java.io.File): (Gen, Dirs) = {
    val d = new Dirs(root)
    val gen = new Gen(seed, size)
    ctx.spark.createDataFrame(gen.snapshotRows, Table.schema)
      .write.mode("overwrite").parquet(d.db.getAbsolutePath)
    val w = new FeedWriter(d.backlog, d.staging)
    val perBatch = size.eventsPerFile * size.filesPerTrigger
    var keys = mutable.Set[Long]()
    (1 to size.backlogFiles).foreach { f =>
      val lines = (1 to size.eventsPerFile).map { _ =>
        val (l, k) = gen.event(); keys += k; l
      }
      w.write(f, lines)
      if (f % size.filesPerTrigger == 0) {
        gen.stats.batchRepeat += 1.0 - keys.size.toDouble / perBatch
        keys = mutable.Set[Long]()
      }
    }
    (gen, d)
  }

  final case class Core(snapshotRowsPerS: Double, catchupEventsPerS: Double,
      lagP50: Double, lagP90: Double, lagSamples: Int, readS: Double,
      snapshotS: Double, catchupS: Double, wallS: Double, genLateMsMax: Double,
      backlogFilesEnd: Int, catchupBatches: Int)

  /** Snapshot + catch-up (+ live + read unless `catchupOnly`). */
  def core(ctx: Ctx, gen: Gen, d: Dirs, size: Size, nLive: Int, sink: TimedSink,
      source: Option[TimedSource => Unit] = None, catchupOnly: Boolean = false,
      counted: Boolean = true, snapshot: Boolean = true): Core = {
    import ctx.sc
    val spark = ctx.spark
    val o = ctx.out
    val t0 = System.nanoTime()
    // --- snapshot: ChunkedSnapshotSource through PipelineRunner.run
    val (src, snapshotS) = if (!snapshot) (null, 0.0) else Timing.secs {
      Trace.span("phase.snapshot", "bench") {
        val table = spark.read.parquet(d.db.getAbsolutePath)
        val plan = Trace.span("source.chunk_plan", "sources") {
          val r = table.agg(min("id"), max("id"), count(lit(1))).collect()(0)
          JdbcChunkSplitter.plan("id", JdbcChunkSplitter.KeyStats(r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        val s = new TimedSource(new ChunkedSnapshotSource(Tid, Info, table, plan, 0L, Nil))
        val ok = try { new PipelineRunner(spark, Pipeline, s, sink).run(); true }
          catch { case e: Throwable => System.err.println(s"[perfbench] snapshot: $e"); false }
        // one operation per snapshot chunk (a SourceBatch)
        if (counted) {
          o.attempted += plan.numPartitions
          if (!ok) { o.failed += plan.numPartitions; o.failures += "snapshot" }
        }
        s
      }
    }
    source.foreach(_(src))
    // --- catch-up: the pre-staged backlog drained with AvailableNow
    val events = size.backlogFiles.toLong * size.eventsPerFile
    val ((qc, okc), catchupS) = Timing.secs {
      Trace.span("phase.catchup", "bench") {
        val q = new StreamingPipeline(spark, Pipeline, sink).startFromDebeziumJson(
          StreamingPipeline.fileJsonStreamOrdered(spark, d.backlog.getAbsolutePath,
            Some(size.filesPerTrigger)),
          Tid, Info, Some(d.cpCatchup.getAbsolutePath), Trigger.AvailableNow(),
          order = Some(col(StreamingPipeline.FileOrderCol)))
        ctx.progress.parents.put(q.id.toString, Trace.currentId)
        val ok = StreamUtil.await(q, 150000)
        val okCompact = runOp(o, counted, "catchup.compact") { sink.compact(Tid, Info); true }
        (q, ok && okCompact)
      }
    }
    val catchupBatches = StreamUtil.dataBatches(qc).size
    if (counted) {
      val expectedBatches = (size.backlogFiles + size.filesPerTrigger - 1) / size.filesPerTrigger
      o.attempted += expectedBatches
      val bad = if (okc) math.max(0, expectedBatches - catchupBatches) else expectedBatches
      o.failed += bad
      if (bad > 0) o.failures += s"catchup.batches($bad of $expectedBatches)"
    }
    if (catchupOnly)
      return Core(0, events / catchupS, 0, 0, 0, 0, snapshotS, catchupS,
        (System.nanoTime() - t0) / 1e9, 0, 0, catchupBatches)

    // --- live: open-loop generator, one file per fixed interval
    val (lags, lateMax, backlogEnd) = Trace.span("phase.live", "bench") {
      d.live.mkdirs()
      val q = new StreamingPipeline(spark, Pipeline, sink).startFromDebeziumJson(
        StreamingPipeline.fileJsonStreamOrdered(spark, d.live.getAbsolutePath),
        Tid, Info, Some(d.cpLive.getAbsolutePath), Trigger.ProcessingTime(0L),
        order = Some(col(StreamingPipeline.FileOrderCol)))
      ctx.progress.parents.put(q.id.toString, Trace.currentId)
      val w = new FeedWriter(d.live, d.staging)
      val due = new Array[Long](nLive)
      var late = 0.0
      val genThread = new Thread(() => {
        val start = System.currentTimeMillis() + 200
        (0 until nLive).foreach { i =>
          due(i) = start + i * LiveIntervalMs
          val lines = (1 to LiveEventsPerFile).map(_ => gen.event()._1)
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          w.write(i + 1, lines)
          late = math.max(late, (System.currentTimeMillis() - due(i)).toDouble)
        }
      }, "perfbench-generator")
      genThread.start()
      genThread.join()
      val names = (0 until nLive).map(i => f"part-${i + 1}%06d.json")
      val deadline = System.currentTimeMillis() + 20000
      def committed: Map[String, Long] = {
        val fb = StreamUtil.fileBatches(d.cpLive)
        val ct = StreamUtil.commitTimes(q)
        names.flatMap(n => fb.get(n).flatMap(ct.get).map(n -> _)).toMap
      }
      var c = committed
      val backlogEnd = nLive - c.size
      while (c.size < nLive && System.currentTimeMillis() < deadline && q.isActive) {
        Thread.sleep(100); c = committed
      }
      q.stop()
      val lags = names.zipWithIndex.flatMap { case (n, i) =>
        val ok = c.contains(n)
        if (counted) { o.attempted += 1; if (!ok) { o.failed += 1; o.failures += s"live.$n" } }
        c.get(n).map(t => (t - due(i)).toDouble)
      }
      (lags, late, backlogEnd)
    }
    // --- read: merge-on-read of the final state, live deltas pending
    val readS = Stats.median((1 to Reads).map { _ =>
      Timing.secs {
        Trace.span("phase.read", "bench") {
          runOp(o, counted, "read") {
            Trace.span("sink.read", "sinks")(RowHash.consume(sink.inner.read(Tid)))
            true
          }
        }
      }._2
    })
    Core(size.snapshotRows / snapshotS, events / catchupS,
      Stats.quantile(lags, 0.5), Stats.quantile(lags, 0.9), lags.size, readS,
      snapshotS, catchupS, (System.nanoTime() - t0) / 1e9, lateMax, backlogEnd, catchupBatches)
  }

  private def runOp(o: Outcome, counted: Boolean, name: String)(f: => Boolean): Boolean =
    if (counted) o.op(name)(f)
    else try f catch { case e: Throwable => System.err.println(s"[perfbench] $name: $e"); false }

  /** Compare the sink's final state with the generator's own expectation. */
  def check(ctx: Ctx, gen: Gen, sink: TimedSink): Boolean = ctx.out.op("check.accounts") {
    val actual = RowHash.canonRows(sink.inner.read(Tid)).sorted
    val expected = gen.expected.sorted
    Check.report("app.accounts", expected, actual)
  }

  def run(ctx: Ctx): Unit = {
    import ctx.sc
    val o = ctx.out
    val spark = ctx.spark
    // warm-up of the stream path (JIT, codegen) on a small backlog, outside
    // every measurement; the snapshot phase warms its own path
    Main.quietly("warmup") {
      val (wg, wd) = setup(ctx, ctx.seed + 1000, Warm, ctx.dir("warm"))
      val ws = new TimedSink(new ParquetUpsertSink(spark, wd.sink.getAbsolutePath, mergeOnRead = true), wd.sink)
      core(ctx, wg, wd, Warm, 0, ws, catchupOnly = true, counted = false, snapshot = false)
    }
    Main.mark("warmup")
    // set-up, three times: generation + table creation, median reported
    val setups = (1 to 3).map { i =>
      val (r, s) = Timing.secs(setup(ctx, ctx.seed, Full, ctx.dir(s"setup-$i")))
      (r, s)
    }
    o.info("setup_gen_s") = setups.map(s => f"${s._2}%.3f").mkString(",")
    Main.setupDone(ctx, Stats.median(setups.map(_._2)))
    Main.mark("setup")
    val (gen, d) = setups.last._1
    gen.stats.report(o, ddlBatchShare = 0.0, tables = 1)
    o.info("traffic.snapshot_keys_per_batch_events") =
      f"${Full.snapshotRows.toDouble / (Full.eventsPerFile * Full.filesPerTrigger)}%.2f"


    val sink = new TimedSink(new ParquetUpsertSink(spark, d.sink.getAbsolutePath, mergeOnRead = true), d.sink)
    val c = core(ctx, gen, d, Full, liveFiles(ctx.seconds), sink)
    Main.mark("measured")
    check(ctx, gen, sink)
    Main.mark("check")
    o.put("throughput_per_s", c.catchupEventsPerS, "1/s")
    o.put("latency_p50_ms", c.lagP50, "ms")
    o.put("latency_p90_ms", c.lagP90, "ms")
    o.put("read_s", c.readS, "s")
    o.info("snapshot_rows_per_s") = f"${c.snapshotRowsPerS}%.1f rows/s"
    o.info("catchup_events_per_s") = f"${c.catchupEventsPerS}%.1f events/s"
    o.info("lag_p50_ms") = f"${c.lagP50}%.1f ms"
    o.info("lag_p90_ms") = f"${c.lagP90}%.1f ms"
    o.info("lag_samples") = c.lagSamples.toString
    o.info("read_s") = f"${c.readS}%.3f s"
    o.info("catchup_batches") = c.catchupBatches.toString
    o.info("gen_late_ms_max") = f"${c.genLateMsMax}%.0f"
    o.info("phase_s") = f"snapshot=${c.snapshotS}%.2f catchup=${c.catchupS}%.2f " +
      f"live+read=${c.wallS - c.snapshotS - c.catchupS}%.2f"

    if (ctx.trace) traced(ctx, c, sink)
  }

  /** Traced run: the same phases again with spans on, layer replays over
    * the workload's own feed, then catch-up under local[1].
    */
  private def traced(ctx: Ctx, untraced: Core, untracedSink: TimedSink): Unit = {
    import ctx.sc
    val o = ctx.out
    val (gen, d) = setup(ctx, ctx.seed, Full, ctx.dir("traced"))
    val sink = new TimedSink(new ParquetUpsertSink(ctx.spark, d.sink.getAbsolutePath, mergeOnRead = true), d.sink)
    var src: TimedSource = null
    var sinkMsAtSnapshot = 0.0
    val layers = new LayerMetrics(ctx)
    layers.window("upsert-stream") {
      val c = core(ctx, gen, d, Full, liveFiles(ctx.seconds), sink, Some { s =>
        src = s; sinkMsAtSnapshot = sink.writes.total + sink.schemaChanges.total
      }, counted = false)
      layers.coreWall = c.wallS
      layers.untracedWall = untraced.wallS
      layers.sinkMetrics(sink, Seq(Tid))
      layers.snapshot(src, c.snapshotRowsPerS, c.snapshotS, sinkMsAtSnapshot)
      o.put("bench.gen_late_ms_max", c.genLateMsMax, "ms")
      o.put("bench.backlog_files_end", c.backlogFilesEnd, "count")
      layers.schemaChanges(sink)
      Replay.run(ctx, Replay.Feed(d.backlog, "debezium", Seq(Tid -> Info), Pipeline,
        Nil, Seq.fill(Full.backlogFiles * Full.eventsPerFile)(Tid), 0L))
    }
    gen.stats.put(o, ddlBatchShare = 0.0, tables = 1)
    // cores versus latency: the same catch-up drained under local[1]
    val ratio = Main.withSingleCore(ctx) { c1 =>
      val (g1, d1) = setup(c1, c1.seed, Full, c1.dir("single"))
      val s1 = new TimedSink(new ParquetUpsertSink(c1.spark, d1.sink.getAbsolutePath, mergeOnRead = true), d1.sink)(c1.sc)
      val r = core(c1, g1, d1, Full, 0, s1, catchupOnly = true, counted = false)
      untraced.catchupEventsPerS / r.catchupEventsPerS
    }
    o.put("bench.scaling_ratio", ratio, "ratio")
  }
}
