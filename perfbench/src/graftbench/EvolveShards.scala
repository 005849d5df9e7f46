package graftbench

import graft.model.{TableId, TableInfo}
import graft.pipeline.{PipelineDef, YamlPipelineParser}
import graft.sinks.ParquetUpsertSink
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** `evolve-shards`: a 10-table Canal-JSON topic, 6 shards regex-routed
  * into one copy-on-write table with a transform, one DDL statement of each
  * kind (ADD COLUMN, widening MODIFY, RENAME) at seeded positions of one
  * micro-batch, and a small share of malformed envelopes. Catch-up, then
  * read.
  */
object EvolveShards {
  val Statuses: Seq[String] = Seq("new", "paid", "shipped", "void")
  val Shards: Seq[TableSpec] = (0 until 6).map { i =>
    TableSpec("app", f"orders_$i%02d", Seq("cust" -> Kind.Int32,
      "qty" -> (if (i < 3) Kind.Int32 else Kind.Wide), "price" -> Kind.Dbl,
      "status" -> Kind.Pick(Statuses)))
  }
  val Others: Seq[TableSpec] = Seq(
    TableSpec("app", "customers", Seq("name" -> Kind.Str, "city" -> Kind.Str,
      "score" -> Kind.Dbl, "vip" -> Kind.Bool)),
    TableSpec("app", "products", Seq("title" -> Kind.Str, "list_price" -> Kind.Dec,
      "stock" -> Kind.Int32, "added" -> Kind.Ts)),
    TableSpec("app", "payments", Seq("order_id" -> Kind.Big, "amount" -> Kind.Dbl,
      "method" -> Kind.Pick(Seq("card", "cash", "wire")))),
    TableSpec("app", "shipments", Seq("order_id" -> Kind.Big,
      "carrier" -> Kind.Pick(Seq("dhl", "ups", "fedex")), "shipped" -> Kind.Ts)))
  val All: Seq[TableSpec] = Shards ++ Others
  val Merged: TableId = TableId.parse("dw.orders")

  /** Workload constants: fixed, never adapted at run time. */
  final case class Size(batches: Int, eventsPerBatch: Int, keysPerTable: Int)
  val Full: Size = Size(2, 2000, 400)
  val ZipfS = 1.1
  val DeleteShareOfExisting: Double = 1.0 / 9
  /** The micro-batch that carries every DDL statement; batch 0 creates the tables. */
  val DdlBatch = 1
  val MalformedShare = 0.005
  val Reads = 5

  /** One DDL statement of each kind, in the order the generator issues them. */
  private def ddlPlan(rnd: java.util.Random): Seq[(Int, String)] = {
    val narrow = rnd.nextInt(3)
    val noted = 3 + rnd.nextInt(3)
    Seq(
      noted -> s"ALTER TABLE ${Shards(noted).name} ADD COLUMN note VARCHAR(32)",
      narrow -> s"ALTER TABLE ${Shards(narrow).name} MODIFY COLUMN qty BIGINT",
      Shards.size -> "ALTER TABLE customers RENAME COLUMN city TO town")
  }

  /** The source database, its change log and the sink state the pipeline
    * must produce, computed here without calling the code under test.
    */
  final class Gen(seed: Long, size: Size) {
    private val rnd = new java.util.Random(seed)
    private val zipf = new Zipf(size.keysPerTable, ZipfS)
    private val perms: Seq[Array[Long]] = All.indices.map { t =>
      val a = Array.tabulate(size.keysPerTable)(i => (t + 1) * 10000000L + i + 1)
      var i = a.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x; i -= 1 }
      a
    }
    // current upstream column list per table (DDL evolves it)
    val cols: mutable.IndexedSeq[Seq[(String, Kind)]] = mutable.IndexedSeq(All.map(_.cols): _*)
    val stats = new TrafficStats
    private val logs = All.indices.map(_ => new KeyedLog(DeleteShareOfExisting, stats))
    // expected sink state: sink table -> key -> canonical column map
    val expected = mutable.Map[TableId, mutable.LongMap[Map[String, Any]]]()
    val sinkCols = mutable.Map[TableId, mutable.LinkedHashSet[String]]()
    val ddl = mutable.ArrayBuffer[(TableId, String)]()
    val tablesPerEvent = mutable.ArrayBuffer[TableId]()
    /** Delivered (well-formed) change events per micro-batch. */
    val batchEvents = mutable.ArrayBuffer[Long]()
    private var ts = 0L
    private val plan = ddlPlan(rnd)
    def ddlBatchShare: Double = (if (DdlBatch < size.batches) 1.0 else 0.0) / size.batches

    All.foreach { t =>
      val sid = sinkOf(t)
      expected.getOrElseUpdate(sid, mutable.LongMap())
      sinkCols.getOrElseUpdate(sid, mutable.LinkedHashSet("id")) ++= t.cols.map(_._1) ++
        (if (isShard(t)) Seq("total") else Nil)
    }

    def isShard(t: TableSpec): Boolean = t.name.startsWith("orders_")
    def sinkOf(t: TableSpec): TableId = if (isShard(t)) Merged else TableId.parse(t.id)

    private def image(t: Int, id: Long, ver: Int): Image =
      Image(("id" -> id) +: cols(t).zipWithIndex.map { case ((c, k), i) =>
        c -> k.value(Mix.of(seed, t.toLong, id, ver.toLong, i.toLong))
      })

    private def kinds(t: Int): Map[String, Kind] = (("id" -> (Kind.Big: Kind)) +: cols(t)).toMap

    private def passes(i: Image): Boolean = i != null && i.get("status") != "void"

    /** Sink row for an image: shards gain the transform's computed total. */
    private def sinkRow(t: Int, i: Image): Map[String, Any] = {
      val base = i.values.toMap
      if (!isShard(All(t))) base
      else {
        val qty = i.get("qty") match { case n: Int => n.toDouble; case n: Long => n.toDouble }
        base + ("total" -> qty * i.get("price").asInstanceOf[Double])
      }
    }

    /** Apply one delivered change to the expected sink state, with the
      * transform's filter-induced op conversion on the shards.
      */
    private def applyExpected(t: Int, op: String, id: Long, before: Image, after: Image): Unit = {
      val st = expected(sinkOf(All(t)))
      if (!isShard(All(t))) op match {
        case "D" => st.remove(id)
        case _ => st(id) = sinkRow(t, after)
      }
      else op match {
        case "I" => if (passes(after)) st(id) = sinkRow(t, after)
        case "D" => if (passes(before)) st.remove(id)
        case _ => (passes(before), passes(after)) match {
          case (true, false) => st.remove(id)
          case (_, true) => st(id) = sinkRow(t, after)
          case (false, false) => ()
        }
      }
    }

    private def applyDdl(t: Int, stmt: String): Unit = {
      val spec = All(t)
      if (stmt.contains(" ADD COLUMN ")) {
        val name = stmt.split(" ADD COLUMN ")(1).split(" ")(0)
        cols(t) = cols(t) :+ (name -> Kind.Str)
        sinkCols(sinkOf(spec)) += name
      } else if (stmt.contains(" MODIFY COLUMN qty ")) {
        cols(t) = cols(t).map { case ("qty", _) => "qty" -> Kind.Wide; case c => c }
      } else if (stmt.contains(" RENAME COLUMN ")) {
        val Array(from, to) = stmt.split(" RENAME COLUMN ")(1).split(" TO ")
        cols(t) = cols(t).map { case (`from`, k) => to -> k; case c => c }
        // lenient schema change: the sink keeps the old column and adds the new
        sinkCols(sinkOf(spec)) += to
      }
      ddl += (TableId.parse(spec.id) -> stmt)
    }

    private def line(t: Int, op: String, before: Image, after: Image): String = {
      ts += 1
      val k = kinds(t)
      val (data, old, tpe) = op match {
        case "I" => (after, null, "INSERT")
        case "U" => (after, before, "UPDATE")
        case "D" => (before, null, "DELETE")
      }
      s"""{"data":[${data.json(k)}],"old":${if (old == null) "null" else "[" + old.json(k) + "]"},""" +
        s""""type":"$tpe","database":"app","table":"${All(t).name}","pkNames":["id"],""" +
        s""""isDdl":false,"es":$ts,"ts":$ts}"""
    }

    /** One micro-batch worth of feed lines. */
    def batch(b: Int): Seq[String] = {
      // the DDL batch issues the whole plan, in order, at distinct seeded positions
      val ddlAt: Map[Int, (Int, String)] =
        if (b != DdlBatch) Map.empty
        else Iterator.continually(rnd.nextInt(size.eventsPerBatch)).distinct
          .take(plan.size).toSeq.sorted.zip(plan).toMap
      val keys = mutable.Set[Long]()
      val out = mutable.ArrayBuffer[String]()
      val (malformedBefore, ddlBefore) = (stats.malformed, stats.ddl)
      (0 until size.eventsPerBatch).foreach { i =>
        ddlAt.get(i).foreach { case (t, stmt) =>
          applyDdl(t, stmt)
          ts += 1
          out += s"""{"data":null,"old":null,"type":"ALTER","database":"app",""" +
            s""""table":"${All(t).name}","pkNames":null,"isDdl":true,"sql":${Json.str(stmt)},""" +
            s""""es":$ts,"ts":$ts}"""
          stats.ddl += 1
        }
        val t = rnd.nextInt(All.size)
        val rank = zipf.sample(rnd)
        stats.hit(rank)
        val id = perms(t)(rank)
        keys += id
        val c = logs(t).change(id, rnd)
        val op = c.op match { case 'c' => "I"; case 'u' => "U"; case _ => "D" }
        val before = if (c.before < 0) null else image(t, id, c.before)
        val after = if (c.after < 0) null else image(t, id, c.after)
        val l = line(t, op, before, after)
        tablesPerEvent += TableId.parse(All(t).id)
        if (rnd.nextDouble() < MalformedShare) {
          // lost in transit: a truncated envelope the pipeline must drop
          out += l.take(6 + rnd.nextInt(20))
          stats.malformed += 1
        } else {
          out += l
          applyExpected(t, op, id, before, after)
        }
      }
      stats.batchRepeat += 1.0 - keys.size.toDouble / size.eventsPerBatch
      batchEvents += out.size - (stats.ddl - ddlBefore) - (stats.malformed - malformedBefore)
      out.foreach { l => stats.lines += 1; stats.bytes += l.length }
      out.toSeq
    }

    /** Expected canonical rows of one sink table (absent columns are null). */
    def expectedRows(sid: TableId): Seq[String] = {
      val cs = sinkCols(sid).toSeq
      expected(sid).values.toSeq.map(m => RowHash.canonRow(cs, cs.map(c => m.getOrElse(c, null))))
    }
  }

  def pipeline(ctx: Ctx): PipelineDef = {
    val f = new java.io.File(ctx.benchDir, "pipelines/evolve-shards.yaml")
    val yaml = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    YamlPipelineParser.parse(yaml).copy(parallelism = ctx.cores)
  }

  val Declared: Seq[(TableId, TableInfo)] =
    All.map(t => TableId.parse(t.id) -> TableInfo(t.schema, primaryKeys = Seq("id")))
  def sinkTables: Seq[TableId] = Merged +: Others.map(t => TableId.parse(t.id))

  final class Dirs(root: java.io.File) {
    val backlog = new java.io.File(root, "backlog")
    val staging = new java.io.File(root, "staging")
    val sink = new java.io.File(root, "sink")
    val cp = new java.io.File(root, "cp")
  }

  def setup(ctx: Ctx, seed: Long, size: Size, root: java.io.File): (Gen, Dirs) = {
    val d = new Dirs(root)
    val gen = new Gen(seed, size)
    val w = new FeedWriter(d.backlog, d.staging)
    (0 until size.batches).foreach(b => w.write(b + 1, gen.batch(b)))
    (gen, d)
  }

  final case class Core(eventsPerS: Double, steadyEventsPerS: Double, batchP50: Double,
      batchP90: Double, readS: Double, catchupS: Double, wallS: Double, batches: Int)

  def newSink(ctx: Ctx, pd: PipelineDef, d: Dirs): TimedSink =
    new TimedSink(new ParquetUpsertSink(ctx.spark, d.sink.getAbsolutePath,
      numBuckets = pd.sink.options.getOrElse("buckets", "16").toInt), d.sink)(ctx.sc)

  def core(ctx: Ctx, gen: Gen, d: Dirs, size: Size, sink: TimedSink, pd: PipelineDef,
      count: Boolean = true): Core = {
    import ctx.sc
    val spark = ctx.spark
    val o = ctx.out
    val t0 = System.nanoTime()
    val events = gen.stats.events - gen.stats.malformed
    val (q, catchupS) = Timing.secs {
      Trace.span("phase.catchup", "bench") {
        val q = new StreamingPipeline(spark, pd, sink).startMultiFromCanalJson(
          StreamingPipeline.fileJsonStreamOrdered(spark, d.backlog.getAbsolutePath, Some(1)),
          Declared, Some(d.cp.getAbsolutePath), Trigger.AvailableNow(),
          order = Some(col(StreamingPipeline.FileOrderCol)))
        ctx.progress.parents.put(q.id.toString, Trace.currentId)
        val ok = StreamUtil.await(q, 150000)
        if (!ok) System.err.println("[perfbench] evolve-shards catch-up did not finish")
        q
      }
    }
    val progress = StreamUtil.dataBatches(q)
    if (count) {
      o.attempted += size.batches
      val bad = if (q.exception.isDefined) size.batches else math.max(0, size.batches - progress.size)
      o.failed += bad
      if (bad > 0) o.failures += s"catchup.batches($bad of ${size.batches})"
    }
    // batch 0 creates every table and pays first-time code generation; the
    // steady rate and latencies come from the batches after it
    val durs = progress.map(p => p.durationMs.get("triggerExecution").doubleValue)
    val steady = progress.drop(1)
    val steadyEvents = gen.batchEvents.drop(1).take(steady.size).sum
    val steadyS = steady.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1000
    // every sink table in one job, five times: read_s is the median
    val readS = Stats.median((1 to Reads).map { _ =>
      Timing.secs {
        Trace.span("phase.read", "bench") {
          val ok = try {
            Trace.span("sink.read", "sinks")(RowHash.consumeAll(sinkTables.map(sink.inner.read)))
            true
          } catch { case e: Throwable => System.err.println(s"[perfbench] read: $e"); false }
          if (count) { o.attempted += 1; if (!ok) { o.failed += 1; o.failures += "read" } }
        }
      }._2
    })
    val steadyDurs = durs.drop(1)
    Core(events / catchupS, if (steadyS > 0) steadyEvents / steadyS else 0.0,
      Stats.quantile(steadyDurs, 0.5), Stats.quantile(steadyDurs, 0.9), readS,
      catchupS, (System.nanoTime() - t0) / 1e9, progress.size)
  }

  def check(ctx: Ctx, gen: Gen, sink: TimedSink): Unit = sinkTables.foreach { t =>
    ctx.out.op(s"check.$t") {
      val df = sink.inner.read(t)
      val colsOk = df.columns.toSet == gen.sinkCols(t).toSet
      if (!colsOk) System.err.println(s"[perfbench] MISMATCH $t columns: " +
        s"${df.columns.sorted.mkString(",")} vs ${gen.sinkCols(t).toSeq.sorted.mkString(",")}")
      val wideOk = t != Merged ||
        df.schema("qty").dataType == org.apache.spark.sql.types.LongType
      if (!wideOk) System.err.println(s"[perfbench] MISMATCH $t qty type ${df.schema("qty").dataType}")
      colsOk && wideOk &&
        Check.report(t.toString, gen.expectedRows(t).sorted, RowHash.canonRows(df).sorted)
    }
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.out
    val pd = pipeline(ctx)
    // no separate warm-up: a warm-up batch over every table costs as much
    // as a measured one, so the first measured batch includes table
    // creation and first-time code generation, as a pipeline start does
    val setups = (1 to 3).map(i => Timing.secs(setup(ctx, ctx.seed, Full, ctx.dir(s"setup-$i"))))
    o.info("setup_gen_s") = setups.map(s => f"${s._2}%.3f").mkString(",")
    Main.setupDone(ctx, Stats.median(setups.map(_._2)))
    val (gen, d) = setups.last._1
    gen.stats.report(o, gen.ddlBatchShare, All.size)

    val sink = newSink(ctx, pd, d)
    val c = core(ctx, gen, d, Full, sink, pd)
    check(ctx, gen, sink)
    o.put("throughput_per_s", c.steadyEventsPerS, "1/s")
    o.put("latency_p50_ms", c.batchP50, "ms")
    o.put("latency_p90_ms", c.batchP90, "ms")
    o.put("read_s", c.readS, "s")
    o.info("catchup_events_per_s") = f"${c.eventsPerS}%.1f events/s (start-up batch included)"
    o.info("steady_events_per_s") = f"${c.steadyEventsPerS}%.1f events/s (batches after the first)"
    o.info("steady_batch_p50_ms") = f"${c.batchP50}%.1f ms"
    o.info("steady_batch_p90_ms") = f"${c.batchP90}%.1f ms"
    o.info("read_s") = f"${c.readS}%.3f s"
    o.info("catchup_batches") = c.batches.toString
    if (ctx.trace) traced(ctx, pd, c)
  }

  private def traced(ctx: Ctx, pd: PipelineDef, untraced: Core): Unit = {
    val o = ctx.out
    val (gen, d) = setup(ctx, ctx.seed, Full, ctx.dir("traced"))
    val sink = newSink(ctx, pd, d)
    val layers = new LayerMetrics(ctx)
    layers.window("evolve-shards") {
      val c = core(ctx, gen, d, Full, sink, pd, count = false)
      layers.coreWall = c.wallS
      layers.untracedWall = untraced.wallS
      layers.sinkMetrics(sink, sinkTables)
      layers.schemaChanges(sink)
      Replay.run(ctx, Replay.Feed(d.backlog, "canal", Declared, pd,
        gen.ddl.toSeq, gen.tablesPerEvent.toSeq, gen.stats.malformed))
    }
    gen.stats.put(o, gen.ddlBatchShare, All.size)
  }
}
