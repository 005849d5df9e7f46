package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.SparkInternals

/** The query profiler: where a registered query's time goes, phase by
  * phase, with the Spark work each phase ran.
  *
  * {{{
  * runMain graft.tools.Profile <sfDir> <q1,q2,...|all> [reps] [planDir]
  * }}}
  *
  * Queries are named by full `SparkEntry.queries` key or by qNN prefix.
  * Each query and rep prints one JSON line:
  *  - `build_ms`: the `SparkEntry.queries(name)` call, where eager driver
  *    jobs run (persist + count, Lloyd rounds, scalar collects);
  *  - `plan_ms`: the physical plan of the consuming aggregate
  *    ([[graft.Bench.digest]], the Bench consumption);
  *  - `exec_ms`: its collect;
  *  - `jobs_build` / `jobs_exec`: Spark jobs run by build and by plan +
  *    exec; `stages` and `tasks` over the whole query;
  *  - `cached_mb_left`: what the query leaves in the storage pool (the
  *    pool is cleared before each query, outside the timed phases);
  *  - `rows` and `hash`: the digest, comparable with a reference.
  *
  * The phases are the ones `perfbench`'s query-suite times. `planDir`
  * receives each query's `explain("formatted")` as `<name>_plan.txt`. A
  * query that throws is listed under `failed` in a last line, the other
  * queries still run, and the tool exits 1.
  *
  * Profile attributes time; it is not an A/B. A keep-or-revert decision
  * still needs an interleaved Bench or perfbench run.
  */
object Profile {

  final case class Record(query: String, rep: Int, buildMs: Double, planMs: Double,
      execMs: Double, jobsBuild: Long, jobsExec: Long, stages: Long, tasks: Long,
      cachedMbLeft: Double, rows: Long, hash: Long) {
    // the hash as a string: a JSON number reader may round 64-bit values
    def json: String =
      f"""{"query":"$query","rep":$rep,"build_ms":$buildMs%.1f,"plan_ms":$planMs%.1f,""" +
        f""""exec_ms":$execMs%.1f,"jobs_build":$jobsBuild,"jobs_exec":$jobsExec,""" +
        f""""stages":$stages,"tasks":$tasks,"cached_mb_left":$cachedMbLeft%.2f,""" +
        s""""rows":$rows,"hash":"$hash"}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.tools.Profile <sfDir> <q1,q2,...|all> [reps] [planDir]")
    val sfDir = args(0)
    val names = if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
                else args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val planDir = args.lift(3).map(new java.io.File(_))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed =
      try run(spark, sfDir, names, reps, planDir)(r => println(r.json))
      finally spark.stop()
    println(failed.map("\"" + _ + "\"").mkString("""{"failed":[""", ",", "]}"))
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Profile `names` over `sfDir`, `reps` passes in name order, handing
    * each record to `emit` as it completes. Returns the names that threw
    * (an unknown name throws too); the others still run.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      planDir: Option[java.io.File])(emit: Record => Unit): Seq[String] = {
    try {
      (1 to reps).flatMap { rep =>
        Bench.timedPass(names)(name => emit(profile(spark, sfDir, name, rep, planDir))).failed
      }.distinct.sorted
    } finally release(spark)
  }

  private val groupSeq = new java.util.concurrent.atomic.AtomicLong

  private def profile(spark: SparkSession, sfDir: String, name: String, rep: Int,
      planDir: Option[java.io.File]): Record = {
    val sc = spark.sparkContext
    val key = resolve(name)
    release(spark)
    val id = groupSeq.incrementAndGet()
    val (buildGroup, execGroup) = (s"graft-profile-$id-build", s"graft-profile-$id-exec")
    def inGroup[T](group: String)(f: => T): T = {
      sc.setJobGroup(group, s"profile $key rep $rep")
      try f finally sc.clearJobGroup()
    }
    val t0 = System.nanoTime()
    val df = inGroup(buildGroup)(SparkEntry.queries(key)(spark, sfDir))
    val t1 = System.nanoTime()
    val agg = Bench.digest(df)
    inGroup(execGroup)(agg.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val (rows, hash) = inGroup(execGroup)(Bench.rowsAndHash(agg))
    val t3 = System.nanoTime()
    // the status tracker is fed by the listener bus: drain it first
    SparkInternals.drainListenerBus(sc)
    val st = sc.statusTracker
    val (buildJobs, execJobs) =
      (st.getJobIdsForGroup(buildGroup).toSeq, st.getJobIdsForGroup(execGroup).toSeq)
    // a stage shared by two jobs counts once; a stage every job skipped
    // ran no task and counts not at all
    val stages = (buildJobs ++ execJobs).flatMap(st.getJobInfo(_)).flatMap(_.stageIds).distinct
      .flatMap(st.getStageInfo(_)).filter(_.numCompletedTasks > 0)
    val cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    planDir.foreach { dir =>
      dir.mkdirs()
      java.nio.file.Files.write(new java.io.File(dir, s"${key}_plan.txt").toPath,
        df.queryExecution.explainString(FormattedMode).getBytes("UTF-8"))
    }
    Record(key, rep, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
      buildJobs.size, execJobs.size, stages.size, stages.map(_.numCompletedTasks.toLong).sum,
      cachedMb, rows, hash)
  }

  /** A full `SparkEntry.queries` key, or the one whose qNN prefix is `name`. */
  private def resolve(name: String): String =
    if (SparkEntry.queries.contains(name)) name
    else SparkEntry.queries.keys.find(_.split("_")(0) == name).getOrElse(
      throw new IllegalArgumentException(s"no query $name"))

  /** Empty the storage pool: cached plans and persisted RDDs. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
