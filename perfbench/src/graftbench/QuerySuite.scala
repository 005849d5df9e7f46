package graftbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `query-suite`: a fixed set of `SparkEntry.queries` over the committed
  * input tables under perfbench/data. Each result is consumed through a
  * full-row hash and checked against perfbench/ref/query-suite.json. The
  * storage pool is cleared between queries, outside the timed region. The
  * data is fixed, so the seed does not change this workload.
  */
object QuerySuite {
  val DataDir = "data/sf0.01"
  val RefFile = "ref/query-suite.json"

  /** The measured query set (`SparkEntry.queries` keys by qNN prefix). */
  val Selected: Seq[String] = Seq("q18", "q45", "q89")
  /** The input tables those queries read. */
  val Inputs: Seq[String] = Seq("events", "documents", "embeddings")

  /** Full `SparkEntry.queries` keys of the selected queries. */
  def names: Seq[String] = Selected.map { p =>
    SparkEntry.queries.keys.find(_.split("_")(0) == p)
      .getOrElse(throw new IllegalArgumentException(s"no query $p"))
  }

  /** Release everything a query left in the storage pool; returns MB held. */
  def release(ctx: Ctx): Double = {
    val sc = ctx.spark.sparkContext
    val held = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    ctx.spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    held
  }

  final case class Cell(name: String, rows: Long, hash: Long, buildMs: Double,
      planMs: Double, execMs: Double, cachedMb: Double, jobsBuild: Long, jobsExec: Long) {
    def totalS: Double = (buildMs + planMs + execMs) / 1000
  }

  /** One query: build (SparkEntry call, where eager driver jobs run),
    * plan (the consuming aggregate's physical plan), exec (its collect).
    */
  def runQuery(ctx: Ctx, name: String, dir: String): Cell = {
    import ctx.sc
    val spark = ctx.spark
    val fn = SparkEntry.queries(name)
    def jobs: Long = { if (Trace.on) Listeners.drain(spark); ctx.engine.totals.jobs }
    Trace.span(s"query $name", "query") {
      val j0 = jobs
      val t0 = System.nanoTime()
      val df = Trace.span("query.build", "query")(fn(spark, dir))
      val t1 = System.nanoTime()
      val j1 = jobs
      val t1b = System.nanoTime()
      val agg = df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
      Trace.span("query.plan", "query")(agg.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val r = Trace.span("query.exec", "query")(agg.collect()(0))
      val t3 = System.nanoTime()
      val j2 = jobs
      val cached = release(ctx)
      Cell(name, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        (t1 - t0) / 1e6, (t2 - t1b) / 1e6, (t3 - t2) / 1e6, cached, j1 - j0, j2 - j1)
    }
  }

  def readRef(ctx: Ctx): Map[String, (Long, Long)] = {
    val f = new java.io.File(ctx.benchDir, RefFile)
    if (!f.isFile) return Map.empty
    val Entry = """"([^"]+)":\s*\[\s*(-?\d+)\s*,\s*"(-?\d+)"\s*\]""".r
    Entry.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  /** Full-row hash of every input table the queries read, in one job. */
  def readTables(ctx: Ctx, dir: String): Double =
    Timing.secs(RowHash.consumeAll(Inputs.map(Tables.load(ctx.spark, dir, _))))._2

  def run(ctx: Ctx): Unit = {
    val o = ctx.out
    val dir = new java.io.File(ctx.benchDir, DataDir).getAbsolutePath
    require(Inputs.forall(n => new java.io.File(dir, s"$n.parquet").exists),
      s"missing input tables under $dir")
    val qs = names
    // warm-up pass (JIT, codegen), then set-up, then a fixed number of
    // measured passes (one per 6 s of budget, at least two); each query's
    // median is kept
    qs.foreach(q => Main.quietly(s"warmup $q")(runQuery(ctx, q, dir)))
    // set-up: open every input table (file listing, footers, schema)
    val setups = (1 to 3).map(_ => Timing.secs(
      Inputs.foreach(n => Tables.load(ctx.spark, dir, n).schema))._2)
    o.info("setup_load_s") = setups.map(s => f"$s%.3f").mkString(",")
    Main.setupDone(ctx, Stats.median(setups))
    val ref = readRef(ctx)
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Cell]]()
    val reads = scala.collection.mutable.ArrayBuffer[Double]()
    val nPasses = math.max(2, ctx.seconds / 6)
    while (passes.size < nPasses) {
      val cells = qs.flatMap { q =>
        var cell: Option[Cell] = None
        o.op(q) {
          val c = runQuery(ctx, q, dir)
          cell = Some(c)
          ref.get(q) match {
            case Some(expect) if expect == (c.rows, c.hash) => true
            case Some(expect) =>
              System.err.println(s"[perfbench] MISMATCH $q: got (${c.rows}, ${c.hash}), " +
                s"reference $expect")
              false
            case None =>
              System.err.println(s"[perfbench] $q has no reference hash")
              false
          }
        }
        cell.map(q -> _)
      }.toMap
      passes += cells
      reads += readTables(ctx, dir)
    }
    val medianS = qs.map(q => q -> Stats.median(passes.flatMap(_.get(q)).map(_.totalS).toSeq)).toMap
    val suiteS = medianS.values.sum
    o.put("throughput_per_s", qs.size / suiteS, "1/s")
    o.put("latency_p50_ms", Stats.quantile(medianS.values.toSeq.map(_ * 1000), 0.5), "ms")
    o.put("latency_p90_ms", Stats.quantile(medianS.values.toSeq.map(_ * 1000), 0.9), "ms")
    o.put("read_s", Stats.median(reads.toSeq), "s")
    o.info("suite_s") = f"$suiteS%.3f s (${qs.size} queries, median of ${passes.size} passes)"
    o.info("queries") = qs.map(q => f"${q.split("_")(0)}=${medianS(q)}%.3f").mkString(" ")
    // the lines perfbench/ref/query-suite.json is made of
    passes.last.values.toSeq.sortBy(_.name).foreach { c =>
      println(s"""# ref "${c.name}": [${c.rows}, "${c.hash}"]""")
    }
    if (ctx.trace) traced(ctx, dir, qs, suiteS)
  }

  private def traced(ctx: Ctx, dir: String, qs: Seq[String], untracedSuiteS: Double): Unit = {
    import ctx.sc
    val o = ctx.out
    val layers = new LayerMetrics(ctx)
    var cells = Seq.empty[Cell]
    layers.window("query-suite") {
      val (cs, wall) = Timing.secs(Trace.span("phase.queries", "bench")(qs.map(runQuery(ctx, _, dir))))
      cells = cs
      layers.coreWall = wall
      layers.untracedWall = untracedSuiteS
    }
    o.put("query.suite_s", cells.map(_.totalS).sum, "s")
    o.put("query.build_ms", cells.map(_.buildMs).sum, "ms")
    o.put("query.plan_ms", cells.map(_.planMs).sum, "ms")
    o.put("query.exec_ms", cells.map(_.execMs).sum, "ms")
    o.put("query.jobs_build", cells.map(_.jobsBuild).sum, "count")
    o.put("query.jobs_exec", cells.map(_.jobsExec).sum, "count")
    o.put("query.cached_mb_left", cells.map(_.cachedMb).sum, "MB")
    cells.foreach(c => o.put(s"query.${c.name.split("_")(0)}_s", c.totalS, "s"))
    // cores versus latency: the same queries once more under local[1]
    val ratio = Main.withSingleCore(ctx) { c1 =>
      qs.foreach(q => runQuery(c1, q, dir))
      val single = qs.map(q => runQuery(c1, q, dir).totalS).sum
      single / untracedSuiteS
    }
    o.put("bench.scaling_ratio", ratio, "ratio")
  }
}
