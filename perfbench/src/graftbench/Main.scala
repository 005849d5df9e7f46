package graftbench

import org.apache.spark.sql.SparkSession

/** Entry point of the CDC benchmark harness. One JVM runs one workload:
  *
  *   graftbench.Main --workload <upsert-stream|evolve-shards|query-suite>
  *     --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  *     --bench-dir <perfbench dir>
  *
  * The last stdout line is the result object; lines before it are
  * `# name = value` facts (every end-to-end metric by name with its unit,
  * traffic properties, environment) for people reading the log.
  */
object Main {
  private var sessionReadyS = 0.0
  private var launchMs = 0L
  private val marks = scala.collection.mutable.ArrayBuffer[String]()

  /** Record how far into the run (seconds since process launch) `what` ended. */
  def mark(what: String): Unit =
    marks += f"$what=${(System.currentTimeMillis() - launchMs) / 1000.0}%.1f"
  private var jvmFlags = ""
  private var master = ""

  def session(cores: Int, work: java.io.File): SparkSession = {
    master = s"local[$cores]"
    graft.Sessions.tuned(SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1"))
      .getOrCreate()
  }

  def envJson(ctx: Ctx): String = {
    val c = ctx.spark.sparkContext.getConf
    s"""{"nproc":${Runtime.getRuntime.availableProcessors()},"cores":${ctx.cores},""" +
      s""""master":${Json.str(master)},""" +
      s""""spark.default.parallelism":${Json.str(c.get("spark.default.parallelism", ""))},""" +
      s""""spark.sql.shuffle.partitions":${Json.str(ctx.spark.conf.get("spark.sql.shuffle.partitions"))},""" +
      s""""jvm_flags":${Json.str(jvmFlags)},"java":${Json.str(System.getProperty("java.version"))}}"""
  }

  /** Set-up time: JVM and session start (from process launch) plus the
    * median of the workload's repeated generation and table creation.
    */
  def setupDone(ctx: Ctx, repeatedMedianS: Double): Unit = {
    ctx.out.put("setup_s", sessionReadyS + repeatedMedianS, "s")
    ctx.out.info("setup_jvm_session_s") = f"$sessionReadyS%.3f"
  }

  def quietly(what: String)(f: => Unit): Unit =
    try f catch { case e: Throwable => System.err.println(s"[perfbench] $what: $e") }

  /** Stop the session, run `f` under local[1], stop that session. */
  def withSingleCore(ctx: Ctx)(f: Ctx => Double): Double = {
    ctx.spark.stop()
    val s1 = session(1, ctx.work)
    s1.sparkContext.setLogLevel("ERROR")
    val c1 = new Ctx(s1, ctx.seed, ctx.seconds, false, 1, ctx.work, ctx.benchDir,
      ctx.catalogue, ctx.engine, ctx.progress, ctx.out)
    try f(c1) finally { master = s"local[${ctx.cores}]"; s1.stop() }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    launchMs = sys.props.get("graftbench.launchMs").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    jvmFlags = sys.props.getOrElse("graftbench.jvmFlags", "")
    Proc.HeapAfterGc.install()
    val workload = a("workload")
    val benchDir = new java.io.File(a("bench-dir"))
    val catalogue = Catalogue.load(new java.io.File(benchDir.getParentFile, "BENCHMARK.json"))
    val steal0 = Proc.cpuSteal
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val trace = a.get("trace").contains("1")
    val work = new java.io.File(a("work"))
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    sessionReadyS = (System.currentTimeMillis() - launchMs) / 1000.0
    mark("session")
    val ctx = new Ctx(spark, a.getOrElse("seed", "1").toLong, a.getOrElse("seconds", "15").toInt,
      trace, cores, work, benchDir, catalogue, new EngineListener, new ProgressListener)
    val o = ctx.out
    try workload match {
      case "upsert-stream" => UpsertStream.run(ctx)
      case "evolve-shards" => EvolveShards.run(ctx)
      case "query-suite" => QuerySuite.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable =>
      // an exception escaping the workload fails the run as one operation
      e.printStackTrace()
      o.attempted += 1; o.failed += 1; o.failures += s"workload $workload"
    }
    mark("workload")
    val (memMb, rssMb, heapMb) = Proc.memPeak
    o.put("mem_peak_mb", memMb, "MB")
    o.info("rss_peak_mb") = f"$rssMb%.1f MB (VmHWM; the $heapMb%.0f MB heap is fixed and pre-touched)"
    quietly("stop")(if (!spark.sparkContext.isStopped) spark.stop())
    mark("stop")
    o.info("timeline_s") = marks.mkString(" ")
    // CPU time the hypervisor gave to other guests while this run was active
    val steal1 = Proc.cpuSteal
    o.info("host_steal_share") =
      f"${(steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)}%.3f"

    o.info.foreach { case (k, v) => println(s"# $k = $v") }
    println(s"# env = ${envJson(ctx)}")
    println(s"# workload = $workload seed=${ctx.seed} seconds=${ctx.seconds} trace=${if (trace) 1 else 0}")
    println(f"# failed_share = ${o.failed.toDouble / math.max(1L, o.attempted)}%.4f ratio " +
      s"(${o.failed} of ${o.attempted})")
    if (o.failures.nonEmpty) println(s"# failed_ops = ${o.failures.mkString(", ")}")
    catalogue.endToEnd.foreach { case (n, u) =>
      o.metrics.get(n).foreach { case (v, _) => println(s"# metric $n = ${Json.num(v)} $u") }
    }
    val names = if (trace) catalogue.perLayer else catalogue.endToEnd
    val metrics = names.map { case (n, u) =>
      val v = o.metrics.get(n).map(_._1).getOrElse(0.0)
      s"${Json.str(n)}:{${"\"value\""}:${Json.num(v)},${"\"unit\""}:${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val missing = catalogue.endToEnd.map(_._1).filterNot(o.metrics.contains)
    val correct = o.failed == 0 && (trace || missing.isEmpty)
    if (missing.nonEmpty && !trace) println(s"# missing_metrics = ${missing.mkString(",")}")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, o.attempted)},""" +
      s""""failed":${o.failed},"metrics":$metrics}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Metric names and units of both reported lists, read from BENCHMARK.json
  * at the repository root (the one place they are kept). A layer a workload
  * never enters reports 0.
  */
final class Catalogue(val endToEnd: Seq[(String, String)], val perLayer: Seq[(String, String)]) {
  /** Layers whose self time the traced run reports (module names). */
  def layers: Seq[String] =
    perLayer.map(_._1).filter(_.endsWith(".self_ms")).map(_.stripSuffix(".self_ms"))
}

object Catalogue {
  def load(file: java.io.File): Catalogue = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    def list(key: String): Seq[(String, String)] =
      root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    new Catalogue(list("end_to_end"), list("per_layer"))
  }
}
