package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JMH-style warmup: one full pass of the suite (and the stream phase)
    // at the smallest SF, so the measured pass reports warm steady-state —
    // first-run codegen/JIT compilation otherwise dominates (probe: q1_agg
    // 6.7s cold vs 1.0s warm at sf0.1). Declared in the output JSON.
    val warmDir = {
      val d = new java.io.File(sfDir).getParentFile
      val w = new java.io.File(d, "sf0.001")
      if (w.isDirectory) w.getAbsolutePath else sfDir
    }
    // machine calibration BEFORE any Spark work: a fixed single-thread
    // CPU spin whose wall time moves with host contention/frequency, not
    // with anything in this repo — lets any BENCH_r{N} be read against
    // machine state without hand-reconstructed drift trails
    val mf = machineFactor()
    val mfMt = machineFactorParallel()
    val mfMem = machineFactorMemory()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    SparkEntry.queries.foreach { case (name, fn) =>
      try consume(fn(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
    }
    streamThroughput(spark, warmDir)
    streamThroughput(spark, warmDir, tableCount = 4)
    ingestThroughput(spark, warmDir)
    logCodeCache("after-warmup")
    // r19 cache hygiene (r18 verdict #3): the warmup pass registers every
    // in-query persist against the WARMUP corpus — plan-distinct from the
    // measured SF's frames, so they are dead weight in the storage pool
    // for the rest of the run. Drop them (and log what was held) before
    // the measured passes. This runs OUTSIDE any timed region; in the
    // normal two-dir setup it does not change what the measured cells
    // cache or reuse. Caveat: when sf0.001 is absent, warmDir falls back
    // to sfDir and warmup's caches ARE plan-identical to pass-1's — this
    // clear then makes pass-1 cold where it used to run warm (the more
    // consistent protocol, but a cell-semantics change in that fallback).
    logAndClearCaches(spark, "after-warmup")
    // 2-run protocol: single runs swing 2-5x on individual queries (JSON
    // codec + GC luck); the committed artifact IS the authoritative
    // record, so it carries BOTH measured totals and the per-query min —
    // a regression is only real if it shows in both runs
    def measuredPass(): Pass =
      timedPass(SparkEntry.queries.keys.toSeq)(name =>
        consume(SparkEntry.queries(name)(spark, sfDir)))
    val pass1 = measuredPass()
    logCodeCache("after-pass1")
    val pass2 = measuredPass()
    logCodeCache("after-pass2")
    // r19 cache hygiene: after BOTH measured passes (pass-2 cells keep
    // their warm-cache semantics — unchanged since r8), release the 104
    // queries' accumulated in-query persists so the stream/ingest phases
    // run with a clean storage pool, and log the held set so unbounded
    // growth across a long session is visible in every artifact.
    logAndClearCaches(spark, "after-pass2")
    // a query that threw in either pass is no cell: it is listed under
    // "failed" and the bench exits non-zero after writing its line
    val failed = (pass1.failed ++ pass2.failed).distinct.sorted
    val run2 = pass2.seconds.toMap
    val cells = pass1.seconds.filterNot { case (k, _) => failed.contains(k) }
    val mins = cells.map { case (k, v) => k -> math.min(v, run2(k)) }
    // SHORT query keys (qNN — the prefix before the first underscore, all
    // unique) at 2 decimals: the driver stores only the output TAIL, and
    // full names at 75+ queries pushed the one-line JSON past its window
    // in r8 ("parsed": null, first queries sliced). Key->name mapping is
    // SparkEntry.queries; protocol prose lives in NOTES.md, not here.
    val prefixes = SparkEntry.queries.keys.toSeq.map(shortKey)
    require(prefixes.distinct.size == prefixes.size,
      s"duplicate qNN bench-key prefix would silently collapse JSON entries: " +
        prefixes.groupBy(identity).collect { case (p, g) if g.size > 1 => p }.mkString(","))
    val qs = mins.map { case (k, v) => "\"" + shortKey(k) + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val failedJson = failed.map(k => "\"" + shortKey(k) + "\"").mkString("[", ",", "]")
    val total = mins.map(_._2).sum
    val t1 = cells.map(_._2).sum
    val t2 = cells.map { case (k, _) => run2(k) }.sum
    // the stream phase is 2-run too: the sf0.001 warm pass (tiny 250-row
    // batches) does not push the hot decode/merge loops past the C2
    // compile threshold, so the first measured run still ramps through
    // JIT tiers — the SECOND run is the steady-state a deployment sees
    val stA = streamThroughput(spark, sfDir)
    val stB = streamThroughput(spark, sfDir)
    val st = if (stB.steadyEps >= stA.steadyEps) stB else stA
    // multiplexed-topic shape (4 tables on one feed, deterministic-order
    // fast path) — same 2-run protocol
    val stmA = streamThroughput(spark, sfDir, tableCount = 4)
    val stmB = streamThroughput(spark, sfDir, tableCount = 4)
    val stm = if (stmB.steadyEps >= stmA.steadyEps) stmB else stmA
    // continuous-ingest composition (incremental near-dedup per batch):
    // best of 2, same JIT argument as the stream phase
    val ingA = ingestThroughput(spark, sfDir)
    val ingB = ingestThroughput(spark, sfDir)
    val ing = math.max(ingA, ingB)
    logCodeCache("end")
    val mfEnd = machineFactor()
    val mfMtEnd = machineFactorParallel()
    val mfMemEnd = machineFactorMemory()
    println(s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec",""" +
      s""""run_totals":[${f"$t1%.2f"},${f"$t2%.2f"}],""" +
      s""""total_min_run":${f"${math.min(t1, t2)}%.2f"},"queries":$qs,""" +
      s""""failed":$failedJson,""" +
      s""""stream_events_per_s":${st.eps},"stream_steady_eps":${st.steadyEps},""" +
      s""""stream_runs_eps":[${stA.eps},${stB.eps}],""" +
      s""""stream_batches":${st.batches},""" +
      s""""stream_batch_eps_spread_pct":${st.spreadPct},""" +
      s""""stream_multi_steady_eps":${stm.steadyEps},""" +
      s""""stream_multi_runs_eps":[${stmA.eps},${stmB.eps}],""" +
      s""""ingest_docs_per_s":$ing,"ingest_runs":[$ingA,$ingB],""" +
      s""""machine_factor":[${f"$mf%.2f"},${f"$mfEnd%.2f"}],""" +
      s""""machine_factor_mt":[${f"$mfMt%.2f"},${f"$mfMtEnd%.2f"}],""" +
      s""""machine_factor_mt_threads":$mtThreads,""" +
      s""""machine_factor_mem":[${f"$mfMem%.2f"},${f"$mfMemEnd%.2f"}],""" +
      s""""parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""warm_sf":"$warmDir",""" +
      s""""note":"q keys=qNN ids (names in SparkEntry.queries); value=sum of per-query min of 2 passes; total_min_run=best single pass; stream/ingest=best of 2; protocol in NOTES.md",""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The full-output digest of `df` as one aggregate (one job): its row
    * count and the bit_xor of every row's xxhash64. Hashing every column
    * keeps Catalyst from pruning any (a bare `.count()` would let
    * projection-heavy queries measure little more than the scan); bit_xor,
    * not sum, because summing random 64-bit hashes overflows ANSI longs.
    */
  private[graft] def digest(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))))

  /** Collect a [[digest]]: (rows, hash), the hash 0 for an empty frame. */
  private[graft] def rowsAndHash(digest: DataFrame): (Long, Long) = {
    val r = digest.collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Consume all of `df`: (rows, hash) of its [[digest]]. */
  private[graft] def consume(df: DataFrame): (Long, Long) = rowsAndHash(digest(df))

  /** One measured pass: wall seconds of each query that ran, in name
    * order, and the names of those that threw.
    */
  final case class Pass(seconds: Seq[(String, Double)], failed: Seq[String])

  /** Time `run` over `names` in name order. A query that throws goes to
    * `failed`, never into `seconds`: its elapsed time would read as a
    * fast query.
    */
  private[graft] def timedPass(names: Seq[String])(run: String => Unit): Pass = {
    val outcomes = names.sorted.map { name =>
      val t0 = System.nanoTime()
      val ok =
        try { run(name); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    Pass(outcomes.collect { case (n, secs, true) => n -> secs },
      outcomes.collect { case (n, _, false) => n })
  }

  /** The JSON key of a query: its qNN prefix. */
  private def shortKey(name: String): String = name.split("_")(0)

  /** Machine-state calibration: wall seconds for a fixed, deterministic,
    * single-thread integer-mixing spin (500M xorshift-multiply rounds —
    * the same mixing shape as xxhash64's avalanche, pure registers, no
    * allocation). Nominal ~0.97 s on this host unloaded (r13 baseline);
    * a value of 1.3 means the host is running ~35% slow and every wall
    * time in this artifact carries that factor. Run before Spark starts
    * and again at the very end (the pair brackets the whole bench).
    */
  private def machineFactor(): Double = {
    def spin(iters: Long): Long = {
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) { h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 31); i += 1 }
      h
    }
    val warm = spin(20000000L) // let C2 compile the loop first
    val t0 = System.nanoTime()
    val v = spin(500000000L)
    val secs = (System.nanoTime() - t0) / 1e9
    if ((warm ^ v) == 42L) System.err.println("[bench] spin collision") // defeat DCE
    System.err.println(f"[bench] machine_factor: $secs%.2f s (nominal ~0.97)")
    secs
  }

  /** Parallel twin of [[machineFactor]]: the same 500M spin on 16
    * concurrent threads, wall seconds. Catches host degradation the
    * single-thread spin cannot (core contention / throttling): on a free
    * host it matches the single-thread time (~0.97 s nominal); a value
    * of 2× the single-thread factor means effective parallelism is
    * halved — read the STREAM/INGEST cells (32-way phases) against THIS
    * factor, the per-query composite against the single-thread one.
    * (Motivating case: r13 afternoon — machine_factor steady at
    * 0.97-1.01 while stream_steady fell 56k→36k ev/s on byte-identical
    * code.) Thread count = min(16, availableProcessors) and rides in the
    * JSON line as machine_factor_mt_threads, so readings stay comparable
    * on hosts with fewer cores (where a hardcoded 16 would read as
    * degradation on a healthy machine).
    */
  private def machineFactorParallel(): Double = {
    def spin(seed: Long, iters: Long): Long = {
      var h = 0x9E3779B97F4A7C15L ^ seed
      var i = 0L
      while (i < iters) { h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 31); i += 1 }
      h
    }
    val n = mtThreads
    val acc = new java.util.concurrent.atomic.AtomicLong()
    def run(iters: Long): Unit = {
      val threads = (0 until n).map { k =>
        new Thread(() => { acc.addAndGet(spin(k.toLong, iters)); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    run(20000000L) // warm all lanes
    val t0 = System.nanoTime()
    run(500000000L)
    val secs = (System.nanoTime() - t0) / 1e9
    if (acc.get == 42L) System.err.println("[bench] spin collision")
    System.err.println(f"[bench] machine_factor_mt: $secs%.2f s on $n threads (nominal ~0.97)")
    secs
  }

  private def mtThreads: Int =
    math.min(16, Runtime.getRuntime.availableProcessors())

  /** Memory-bandwidth twin of [[machineFactor]]: wall seconds for a fixed
    * number of strided passes over a 256 MB long array — cache-defeating
    * reads whose throughput tracks the memory subsystem, not the ALUs.
    * Motivating case (r13 session 2): the per-query composite ran ~16%
    * above the same tree's morning numbers while machine_factor AND
    * machine_factor_mt read nominal — pure-register spins cannot see
    * memory-bandwidth contention, which is what a columnar scan suite
    * is mostly made of. NOMINAL ON THIS HOST: ~1.4-1.5 s, stamped in
    * round 14 by a standalone minimal-JVM run of this exact sweep on a
    * verifiably idle machine (load 0.28, nothing running: 1.39-1.80 s
    * across 8 reps, floor 1.39) — the r13 "1.42-1.55 contended band"
    * reading was in fact nominal. Values >= ~1.9 indicate genuine
    * memory contention (BASELINE.md "reading guide").
    */
  private def machineFactorMemory(): Double = {
    val n = 32 * 1024 * 1024 // 32M longs = 256 MB
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    // stride-16 passes (one element per cache line): 16 offsets x 32M/16
    // reads = 32M line fetches per full sweep, 4 sweeps
    def sweep(): Long = {
      var acc = 0L
      var off = 0
      while (off < 16) {
        var j = off
        while (j < n) { acc ^= a(j); j += 16 }
        off += 1
      }
      acc
    }
    val warm = sweep()
    val t0 = System.nanoTime()
    var k = 0
    var v = 0L
    while (k < 4) { v ^= sweep(); k += 1 }
    val secs = (System.nanoTime() - t0) / 1e9
    if ((warm ^ v) == 42L) System.err.println("[bench] mem spin collision")
    System.err.println(
      f"[bench] machine_factor_mem: $secs%.2f s (floor across artifacts = nominal; NOTES)")
    secs
  }

  /** Storage-pool audit + release (r19, r18 verdict #3): print how many
    * RDDs the in-query persists left registered and their memory/disk
    * footprint, then clear the SQL cache. The operators' documented
    * ownership contract is caller-releases (module headers since r8);
    * the bench is the caller here, and a 104-query session that never
    * releases grows the pool until LRU eviction starts thrashing the
    * frames a RUNNING query still needs.
    */
  private def logAndClearCaches(spark: SparkSession, tag: String): Unit = {
    val rdds = spark.sparkContext.getRDDStorageInfo
    System.err.println(s"[bench] cached RDDs @$tag: n=${rdds.length} " +
      f"mem=${rdds.map(_.memSize).sum / 1048576}%dMB " +
      f"disk=${rdds.map(_.diskSize).sum / 1048576}%dMB — clearing")
    spark.catalog.clearCache()
  }

  /** JIT code-cache occupancy per CodeHeap segment (stderr). The bench's
    * own canary: when 'non-profiled nmethods' used approaches its max,
    * compilation stops and everything measured after runs interpreted —
    * the r7/r12 tail pathology (NOTES "BENCH JIT LESSON").
    */
  private def logCodeCache(tag: String): Unit = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
    val s = pools.map { p =>
      val u = p.getUsage
      s"${p.getName} ${u.getUsed / 1048576}M/${u.getMax / 1048576}M"
    }.mkString("; ")
    System.err.println(s"[bench] code-cache @$tag: $s")
  }

  /** Continuous-ingest throughput: the documents corpus arrives in 4
    * batches, each deduped against itself and the accumulated kept base
    * via [[graft.ops.Dedup.incrementalKeep]] (the StreamingSpec
    * micro-batch loop without the stream plumbing, so the number is the
    * OPERATOR's rate). Returns docs/s over the whole run.
    */
  private def ingestThroughput(spark: SparkSession, sfDir: String): Long = {
    import org.apache.spark.sql.functions.col
    try {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val n = docs.count()
      val batches = 4
      var base = docs.where(org.apache.spark.sql.functions.lit(false))
        .localCheckpoint(true)
      // NOTE the recompute-the-base path is deliberate at THIS scale:
      // the materialized-signature variant
      // (Dedup.incrementalKeepWithSignatures, r15 — delta-sized kernel
      // CPU per batch; see its scan-I/O caveat) measured 571 vs ~980
      // docs/s here, because with base ≈ delta ≈ 1.2k docs the per-batch
      // artifact maintenance (24× banded signature checkpoint, candidate
      // semi-joins) outweighs the base re-signature CPU it avoids. With
      // base >> delta the avoided kernel CPU dominates; the bench keeps
      // the protocol comparable across rounds.
      val t0 = System.nanoTime()
      var i = 0
      while (i < batches) {
        val kept = graft.ops.Dedup.incrementalKeep(
          docs.where(col("doc_id") % batches === i), "doc_id",
          base, "doc_id", "text", threshold = 0.6)
        base = base.unionByName(kept).localCheckpoint(true)
        i += 1
      }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] ingest: $n docs in $secs%.2f s, kept ${base.count()}")
      (n / secs).toLong
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ingest throughput failed: ${e.getMessage}")
      -1L
    }
  }

  private[graft] final case class StreamResult(
      eps: Long, steadyEps: Long, batches: Int, spreadPct: Long)

  /** Stream-phase throughput (BASELINE.md protocol): the events table
    * rendered as debezium-JSON lines, consumed by the streaming pipeline
    * (decode -> transform path -> PK-upsert parquet sink), measured as
    * sustained events/s. JSON generation is excluded from the timing.
    *
    * Since r6 the feed is consumed as a SEQUENCE of micro-batches
    * (maxFilesPerTrigger bounds each one) rather than one giant batch:
    * single-batch numbers swung 30-68k ev/s run to run; the multi-batch
    * rate amortizes per-batch noise and matches the steady-state shape a
    * deployment has. Per-batch rates come from the query's progress log;
    * the spread ((max-min)/median) is reported alongside.
    */
  private def streamThroughput(spark: SparkSession, sfDir: String): StreamResult =
    streamThroughput(spark, sfDir, tableCount = 1)

  /** `tableCount > 1` measures the MULTIPLEXED-topic shape (the
    * reference's flagship MySQL whole-database capture): the same event
    * feed splits into `tableCount` tables by `user_id % tableCount`, every
    * record routes by its envelope's `source.table`, and the pipeline
    * takes the r16 deterministic-order fast path (`order` = the feed's
    * unique `ts_ms`), so DDL-free multi-table batches skip the per-batch
    * persist. `tableCount = 1` is byte-identical to the r6–r15 protocol.
    */
  private def streamThroughput(
      spark: SparkSession, sfDir: String, tableCount: Int): StreamResult = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bench").toFile
      val feedDir = new java.io.File(tmp, "feed")
      val ev = Tables.load(spark, sfDir, "events")
      val n = ev.count()
      val payload = struct(col("user_id"), col("value").as("last_value"))
      val tableName =
        if (tableCount <= 1) lit("events")
        else concat(lit("user_state_"), pmod(col("user_id"), lit(tableCount)))
      ev.select(to_json(struct(
        when(col("event_type") === "error", payload).as("before"),
        when(col("event_type") =!= "error", payload).as("after"),
        when(col("event_type") === "signup", "c")
          .when(col("event_type") === "error", "d").otherwise("u").as("op"),
        col("event_id").as("ts_ms"),
        struct(lit("graft").as("db"), tableName.as("table")).as("source"))).as("value"))
        // fixed 16-file layout: with maxFilesPerTrigger = 4 the run is
        // always exactly 4 micro-batches, independent of the SF's scan
        // partitioning
        .repartition(16)
        .write.mode("overwrite").text(feedDir.getAbsolutePath)

      val info = graft.model.TableInfo(
        StructType(Seq(StructField("user_id", LongType), StructField("last_value", DoubleType))),
        primaryKeys = Seq("user_id"))
      val tids =
        if (tableCount <= 1) Seq(graft.model.TableId.parse("graft.user_state"))
        else (0 until tableCount).map(i => graft.model.TableId.parse(s"graft.user_state_$i"))
      // MERGE-ON-READ profile: each micro-batch appends its delta, one
      // compaction folds them at the end — the matching profile for the
      // multi-batch protocol. (COW pays its full bucketed rewrite per
      // batch: measured 4x slower across 4 batches. Single-batch runs
      // measured the opposite, which is why this flipped with the
      // protocol in r6.)
      val sink = new graft.sinks.ParquetUpsertSink(
        spark, new java.io.File(tmp, "out").getAbsolutePath, mergeOnRead = true)
      val pd = graft.pipeline.PipelineDef(
        graft.pipeline.SourceDef("debezium-json", Map.empty),
        graft.pipeline.SinkDef("parquet-upsert", Map.empty))
      // bound micro-batches so the run spans >= 4 of them
      val feedFiles = feedDir.listFiles().count(_.getName.startsWith("part-"))
      val perTrigger = math.max(1, feedFiles / 4)
      // the feed's ts_ms IS event_id — unique per record and monotone in
      // feed order: exactly the deterministic-order contract
      val order = Some(get_json_object(col("value"), "$.ts_ms").cast(LongType))
      val t0 = System.nanoTime()
      val pipelineStream = new graft.streaming.StreamingPipeline(spark, pd, sink)
      val feed = graft.streaming.StreamingPipeline.fileJsonStream(
        spark, feedDir.getAbsolutePath, Some(perTrigger))
      val q = pipelineStream.start(feed, graft.cdc.WireFormat.Debezium(),
        tids.map(_ -> info), order = if (tableCount <= 1) None else order)
      val finished = q.awaitTermination(600000)
      if (!finished) { q.stop(); return StreamResult(-1L, -1L, 0, -1L) }
      tids.foreach(sink.compact(_, info)) // no-op for COW; folds deltas if MOR
      val secs = (System.nanoTime() - t0) / 1e9
      val batchRates = q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.batchDuration > 0)
        .map(p => p.numInputRows.toDouble * 1000 / p.batchDuration)
      System.err.println(s"[bench] stream per-batch ev/s: " +
        batchRates.map(r => f"$r%.0f").mkString(", "))
      q.recentProgress.toSeq.filter(_.numInputRows > 0).foreach { p =>
        System.err.println(s"[bench] batch ${p.batchId}: rows=${p.numInputRows} " +
          s"durMs=${p.durationMs}")
      }
      // batch 1 pays the one-time stream start + codegen: steady state is
      // the median of the REMAINING batches, spread their (max-min)/median
      val steady = if (batchRates.size > 1) batchRates.tail else batchRates
      val (steadyEps, spread) =
        if (steady.isEmpty) (-1L, -1L)
        else {
          val sorted = steady.sorted
          val median = sorted(sorted.size / 2)
          (math.round(median),
            if (sorted.size < 2) 0L
            else math.round((sorted.last - sorted.head) / median * 100))
        }
      StreamResult((n / secs).toLong, steadyEps, batchRates.size, spread)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream throughput failed: ${e.getMessage}")
      StreamResult(-1L, -1L, 0, -1L)
    }
  }
}
