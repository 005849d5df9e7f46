package graft.tools

import graft.Bench.consume
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-loop crossover for INCREMENTAL span dedup (r18 — the
  * DedupCrossover question asked of the exact-substring family): at a
  * growing base size, what does a fixed-size delta batch cost under
  *
  *   recompute  — `spanDedupCut(base ∪ delta)` per batch (the naive
  *                pipeline: re-derives every base window every batch)
  *   delta-mem  — `spanDedupCutDelta(delta, idx)` against an index held
  *                in executor storage (localCheckpoint — survives the
  *                per-rep cache clear, like a long-running driver holds
  *                it)
  *   delta-disk — the same against the index REREAD from parquet each
  *                batch (the cross-session shape; the k-stamp metadata
  *                rides through the file)
  *
  * plus the one-time index build/save costs the delta paths amortize.
  *
  *   runMain graft.tools.SpanDeltaBench <sfDir> [factors] [reps]
  *
  * The grown bases are [[ScaleCurve]]'s Caesar replica dirs
  * (`/tmp/graft_scale_f<f>/documents.parquet` — content grows linearly,
  * so the window-firsts index grows with the base, which is the whole
  * point); run ScaleCurve for the same factors first, or this harness
  * refuses. The delta is the ORIGINAL sf corpus re-keyed above every
  * base id: each delta doc fully duplicates base replica 0, so the
  * probe join and interval machinery run at full selectivity — the
  * adversarial (most expensive) delta shape, not a no-op one.
  */
object SpanDeltaBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args(1).split(',').map(_.trim.toInt).toSeq
      else Seq(1, 4, 16, 26)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, factors, reps) finally spark.stop()
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def run(spark: SparkSession, sfDir: String,
      factors: Seq[Int], reps: Int): Unit = {
    val k = 8
    for (f <- factors) {
      val baseDir = s"/tmp/graft_scale_f$f"
      val basePath = s"$baseDir/documents.parquet"
      require(new java.io.File(basePath).isDirectory,
        s"$basePath missing — run graft.tools.ScaleCurve for factor $f first")
      // validate the replica dir's SCHEME marker (r18 review): a dir
      // built from a DIFFERENT base corpus or an older replication
      // scheme would share no windows with this delta, silently turning
      // the adversarial full-duplication workload into a no-op probe
      val marker = new java.io.File(baseDir, "SCHEME")
      val expectScheme = ScaleCurve.schemeId(sfDir)
      val gotScheme =
        if (marker.isFile)
          new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
        else "<missing>"
      require(gotScheme == expectScheme,
        s"$baseDir was built under scheme '$gotScheme', need " +
          s"'$expectScheme' — re-run ScaleCurve against this base corpus")
      val base = spark.read.parquet(basePath)
        .select(col("doc_id"), col("text"))
      val baseN = base.count()
      val maxId = base.agg(max(col("doc_id"))).collect()(0).getLong(0)
      // delta: the original corpus re-keyed ABOVE the base range (the
      // append-only id shape spanDedupCutDelta documents)
      val delta = graft.Tables.load(spark, sfDir, "documents")
        .select((col("doc_id") + maxId + 1L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val deltaN = delta.count()

      // one-time index costs the delta paths amortize
      var idxMem: DataFrame = null
      val buildWall = time {
        idxMem = graft.ops.Dedup
          .spanDedupIndex(base, "doc_id", "text", k = k)
          .localCheckpoint(true) // executor storage: survives clearCache
      }
      val idxRows = idxMem.count()
      val idxDir = s"/tmp/graft_span_idx_f$f"
      val saveWall = time {
        idxMem.write.mode("overwrite").parquet(idxDir)
      }
      println(f"[spandelta] f=$f base=$baseN delta=$deltaN " +
        f"index: $idxRows rows, build $buildWall%.2f s, save $saveWall%.2f s")

      def best(label: String)(body: => Unit): Unit = {
        val walls = (1 to reps).map { _ =>
          spark.catalog.clearCache() // drop per-batch internals, keep ckpts
          time(body)
        }
        println(f"[spandelta] f=$f $label%-10s best ${walls.min}%7.2f s " +
          f"(reps: ${walls.map(w => f"$w%.2f").mkString(", ")})")
      }
      best("recompute") {
        consume(graft.ops.Dedup.spanDedupCut(
          base.unionByName(delta), "doc_id", "text", k = k)
          .where(col("doc_id") > maxId))
      }
      best("delta-mem") {
        consume(graft.ops.Dedup.spanDedupCutDelta(
          delta, "doc_id", "text", idxMem, k = k))
      }
      best("delta-disk") {
        consume(graft.ops.Dedup.spanDedupCutDelta(
          delta, "doc_id", "text", spark.read.parquet(idxDir), k = k))
      }
    }
  }
}
