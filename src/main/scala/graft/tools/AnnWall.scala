package graft.tools

import graft.Bench.consume
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall-clock growth curves for the ANN heads (r15) — the dimension
  * AnnRecall measures recall/cost for but never isolates in time: each
  * GATED configuration (q24 brute, q33 ivf, q88 multi-LSH, q89 pq,
  * q90 ivf-pq) timed end-to-end on the sf corpus grown in memory by
  * [[ScaleCurve.embeddingReplica]]'s sign-flip isometry.
  *
  *   runMain graft.tools.AnnWall <embDir> [factors] [reps]
  *   e.g. ... /root/testdata/sf0.1 1,16,64 2
  *
  * Training (deterministic, an offline build step at 100 TB) is timed
  * SEPARATELY from the query path: the `build` column is centroid/
  * codebook training once per (config, factor); `query` is the min-of-
  * reps end-to-end retrieval consuming the full output via a hash agg
  * (the Bench consumption idiom — `.count()` would prune columns).
  */
object AnnWall {
  def main(args: Array[String]): Unit = {
    val embDir = args(0)
    val factors = (if (args.length > 1) args(1) else "1,16,64")
      .split(',').map(_.trim.toInt).toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Similarity

    def timeIt[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    val base = spark.read.parquet(s"$embDir/embeddings.parquet")
    val results =
      scala.collection.mutable.ArrayBuffer[(String, Int, Double, Double)]()
    for (f <- factors) {
      val emb = (if (f == 1) base
        else (0 until f).map(ScaleCurve.embeddingReplica(base, _))
          .reduce(_ unionByName _))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val queries = emb.where(col("vec_id") < 10)
      println(s"[annwall] factor=$f corpus=$n")

      // (name, build step -> handle, query step(handle))
      def run(name: String, build: () => AnyRef,
          query: AnyRef => DataFrame): Unit = {
        val (bSec, handle) = timeIt(build())
        consume(query(handle)) // warm (JIT + codegen), not measured
        val qSec = (1 to reps).map(_ => timeIt(consume(query(handle)))._1).min
        println(f"[annwall] f=$f%-3d $name%-22s build=$bSec%6.2f s  query=$qSec%6.2f s")
        results += ((name, f, bSec, qSec))
      }
      run("brute (q24)", () => null,
        _ => Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5))
      run("ivf np=4 (q33)", () => Similarity.trainIvfCentroids(
          emb, "vec_id", "embedding", nlist = 16, iters = 3),
        c => Similarity.ivfTopKPrecomputed(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5,
          c.asInstanceOf[Array[(Int, Array[Double])]], nprobe = 4))
      run("multi-lsh L=16 (q88)", () =>
          Similarity.md5PlaneTables("q88", numTables = 16, numPlanes = 8, dim = 64),
        t => Similarity.lshTopKMultiTable(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5,
          t.asInstanceOf[Seq[Array[Array[Double]]]], probeHamming = 1))
      run("pq m=4 (q89)", () => Similarity.trainPqCodebooks(
          emb, "vec_id", "embedding", m = 4, ksub = 8, iters = 2),
        b => Similarity.pqTopKPrecomputed(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5,
          b.asInstanceOf[Array[Array[Array[Double]]]], coarseK = 40))
      run("ivfpq np=2 (q90)", () => Similarity.trainIvfPq(
          emb, "vec_id", "embedding",
          nlist = 8, itersIvf = 1, m = 4, ksub = 8, itersPq = 1),
        h => {
          val (c, b) = h.asInstanceOf[
            (Array[(Int, Array[Double])], Array[Array[Array[Double]]])]
          Similarity.ivfPqTopKPrecomputed(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 5, c, b,
            nprobe = 2, coarseK = 32)
        })

      // Disk-backed precoded pair (r16, verdict #6): the 16×-less-scan
      // claim of the precoded path was plan-pinned but wall-measured only
      // on in-memory corpora where scan traffic is free. Both tables go
      // to parquet; `disk carried` drags the float column through the
      // coarse stage, `disk precoded` scans (id, codes) only and joins
      // the coarseK survivors back to the float table. One training
      // (deterministic — identical to the q89 books) serves both; build =
      // the table write each path needs.
      val diskBooks = Similarity.trainPqCodebooks(
        emb, "vec_id", "embedding", m = 4, ksub = 8, iters = 2)
      val dd = new java.io.File(s"/tmp/graft_annwall/f$f")
      run("pq m=4 disk carried", () => {
        dd.mkdirs()
        emb.write.mode("overwrite").parquet(s"$dd/floats")
        diskBooks
      }, b => {
        val floats = spark.read.parquet(s"$dd/floats")
        Similarity.pqTopKPrecomputed(floats, "vec_id", "embedding",
          floats.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
          b.asInstanceOf[Array[Array[Array[Double]]]], coarseK = 40)
      })
      run("pq m=4 disk precoded", () => {
        Similarity.materializePqCodes(emb, "vec_id", "embedding", diskBooks)
          .write.mode("overwrite").parquet(s"$dd/codes")
        diskBooks
      }, b => {
        val floats = spark.read.parquet(s"$dd/floats")
        val codes = spark.read.parquet(s"$dd/codes")
        Similarity.pqTopKPrecoded(codes, "vec_id", "codes",
          floats, "vec_id", "embedding",
          floats.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
          b.asInstanceOf[Array[Array[Array[Double]]]], coarseK = 40)
      })
      emb.unpersist(false)
    }
    // markdown for NOTES.md
    val names = results.map(_._1).distinct
    println("| config | " + factors.map(f => s"f=$f build | f=$f query")
      .mkString(" | ") + " |")
    println("|---|" + factors.flatMap(_ => Seq("---|", "---|")).mkString)
    for (name <- names) {
      val cells = factors.flatMap { f =>
        val r = results.collectFirst {
          case (`name`, `f`, b, q) => (b, q) }.get
        Seq(f"${r._1}%.2f", f"${r._2}%.2f")
      }
      println(s"| $name | " + cells.mkString(" | ") + " |")
    }
    spark.stop()
  }
}
