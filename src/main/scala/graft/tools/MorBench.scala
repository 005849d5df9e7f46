package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Merge-on-read compaction-policy curve (r15 verdict stretch #10, r16
  * adaptive extension): the MOR profile's whole bargain is cheap appends
  * paid for at read time — this measures the exchange rate so the sink's
  * compaction defaults are justified by a curve, not asserted.
  *
  *   runMain graft.tools.MorBench [batches] [rowsPerBatch] [keyspace] [policies] [readEvery]
  *   defaults: 24 20000 100000 1,4,8,16,a0.25,a1,a4,0 1
  *
  * Policies: an integer N = fixed delta-count cadence (`autoCompactDeltas
  * = N`, 0 = never compact); `aX` = ADAPTIVE — compact when measured read
  * amplification (pending delta rows ÷ base rows, parquet-footer counts)
  * reaches X (`autoCompactReadAmp = X`). `readEvery` sets the read/write
  * mix: the table is read end-to-end (hash-consumed) after every k-th
  * batch — 1 is the r15 balanced mix, larger k is write-heavier. Running
  * the same policy list across two mixes shows whether a policy tracks
  * the optimum or is tuned to one mix: a fixed cadence pays the same
  * compaction schedule regardless of how often anyone reads, while the
  * amplification trigger compacts later as the base grows.
  *
  * Per policy: a fresh MOR table ingests `batches` upsert batches (keys
  * cycle the keyspace so later batches genuinely update earlier rows).
  * Reported: total ingest wall (appends + any auto-compactions),
  * mean/max read wall, peak pending-delta count, and TOTAL wall
  * (ingest + all reads) — the number the policy should minimize.
  */
object MorBench {
  def main(args: Array[String]): Unit = {
    val batches = if (args.length > 0) args(0).toInt else 24
    val rows = if (args.length > 1) args(1).toInt else 20000
    val keyspace = if (args.length > 2) args(2).toInt else 100000
    val policies = (if (args.length > 3) args(3) else "1,4,8,16,a0.25,a1,a4,0")
      .split(',').map(_.trim).toSeq
    val readEvery = if (args.length > 4) args(4).toInt else 1
    require(readEvery >= 1 && readEvery <= batches,
      s"readEvery must be in [1, batches=$batches] so at least one read " +
        s"runs (got $readEvery)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tid = graft.model.TableId.parse("graft.mor_state")
    val info = graft.model.TableInfo(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("last_value",
          org.apache.spark.sql.types.DoubleType))),
      primaryKeys = Seq("user_id"))

    def batchFrame(i: Int) = spark.range(rows).select(
      ((col("id") * 31 + i * rows) % keyspace).as("user_id"),
      (col("id").cast("double") / 7 + i).as("last_value"),
      (when(col("id") % 5 === 0, "+I").otherwise("+U")).as(graft.cdc.Changelog.OpCol),
      (col("id") + i.toLong * rows).as(graft.cdc.Changelog.SeqCol))

    val out = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Int, Double)]()
    for (pol <- policies) {
      val dir = java.nio.file.Files.createTempDirectory("graft_mor").toFile
      val (cadence, amp) =
        if (pol.startsWith("a")) (0, pol.stripPrefix("a").toDouble)
        else (pol.toInt, 0.0)
      val sink = new graft.sinks.ParquetUpsertSink(spark, dir.getAbsolutePath,
        mergeOnRead = true, autoCompactDeltas = cadence, autoCompactReadAmp = amp)
      var ingest = 0.0
      var peak = 0
      val reads = scala.collection.mutable.ArrayBuffer[Double]()
      for (i <- 0 until batches) {
        val t0 = System.nanoTime()
        sink.write(tid, batchFrame(i), info)
        ingest += (System.nanoTime() - t0) / 1e9
        // same predicate as the sink's own delta enumeration — a raw
        // entry count would drift if anything else ever lands in __delta
        val pending = Option(new java.io.File(
            dir, s"graft/mor_state__delta").listFiles())
          .map(_.count(_.getName.startsWith("delta-"))).getOrElse(0)
        peak = math.max(peak, pending)
        if ((i + 1) % readEvery == 0) {
          val t1 = System.nanoTime()
          graft.Bench.consume(sink.read(tid))
          reads += (System.nanoTime() - t1) / 1e9
        }
      }
      val mean = reads.sum / reads.size
      val total = ingest + reads.sum
      println(f"[mor] policy=$pol%-6s ingest=$ingest%7.2f s  " +
        f"read mean=$mean%5.2f s max=${reads.max}%5.2f s  " +
        f"peak-deltas=$peak%3d  total=$total%7.2f s")
      out += ((pol, ingest, mean, reads.max, peak, total))
    }
    println(s"readEvery=$readEvery batches=$batches rows/batch=$rows")
    println("| policy | ingest s | read mean s | read max s | peak deltas | total s |")
    println("|---|---|---|---|---|---|")
    out.foreach { case (pol, ing, mr, xr, pk, tot) =>
      val label = if (pol == "0") "never"
        else if (pol.startsWith("a")) s"amp ${pol.stripPrefix("a")}" else pol
      println(f"| $label | $ing%.2f | $mr%.2f | $xr%.2f | $pk | $tot%.2f |")
    }
    spark.stop()
  }
}
