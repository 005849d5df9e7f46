package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve audit: replicate the documents corpus N× and measure the
  * heavy operator family at each size —
  * `runMain graft.tools.ScaleCurve <sfDir> <factors> <q1,q2> [reps]`
  * (e.g. `... /root/testdata/sf0.1 1,2,4,8 q66_jaccard_join,q22_dedup_minhash`).
  *
  * Replication re-keys ids into disjoint ranges and renames each
  * replica's tokens BIJECTIVELY via a MARKER-FIXED CAESAR CIPHER: replica
  * i shifts every ASCII letter by i (case-preserving; digits, punctuation
  * and non-Latin scripts untouched), EXCEPT whitespace tokens whose
  * lowercase form is a language marker ([[graft.ops.TextAnalysis
  * .LanguageMarkers]]), which ride unchanged. Why this exact scheme —
  * each clause preserves a property some measured operator gates on:
  *  - a letter permutation COMMUTES with `normalize` (lower + non-alnum →
  *    space), so the bijection holds under every tokenizer in the ops
  *    (the r13 suffix scheme broke under bm25TopK's normalize: "spark."
  *    suffixed to "spark.zra" re-split into "spark zra", leaking bare
  *    base terms into replicas — ADVICE r13);
  *  - it is LENGTH-preserving, so Gopher's mean-word-length band, word
  *    counts, and the n_chars column stay exact per replica (the suffix
  *    scheme grew every token by 3 chars and left n_chars stale);
  *  - fixed markers keep langId verdicts (whole-token marker counts) and
  *    zh substring counts invariant, so GATED pipelines (q83's language +
  *    Gopher gates) pass in every replica — the r13 scheme failed the
  *    gate at f>1 and measured only the pre-gate stages;
  *  - within a replica the rename is injective: a cipher is injective on
  *    strings, and the marker exemption cannot merge tokens because the
  *    tool ASSERTS no corpus token is a Caesar preimage of a marker (and
  *    that token separators are plain spaces, so the cipher's ' ' split
  *    agrees with langId's \s+ split) — so dup structure, repetition
  *    stats and within-replica Jaccard are preserved EXACTLY; across
  *    replicas non-marker images are disjoint, so texts/shingles collide
  *    only on all-marker content or docs that are literal Caesar
  *    translates of each other — measured absent in this corpus
  *    (survivor/pair counts scale ~f, exactly: 911·f at f=1/4/16).
  * Near-dup pair population therefore grows ~linearly with the corpus,
  * the way a real crawl grows. (Naive duplication grows pairs
  * quadratically; inserting a salt token BETWEEN words — the r9 first
  * attempt — manufactures `(salt, w, salt)` sandwich shingles shared by
  * every pair of docs with a common word, which blew q66 up 38× at f=2.
  * Replication must be a bijection that preserves every property the
  * measured operator gates on.) Queries run from a temp dir
  * holding only the replicated table, through the same full-output hash
  * consume as Bench; per (factor, query): one warm pass + `reps` timed,
  * min reported. A near-linear seconds-vs-factor slope is the check; a
  * superlinear cliff is a bug to chase.
  *
  * The `embeddings` table replicates alongside: replica i applies a
  * deterministic per-dimension SIGN FLIP to every vector — an isometry,
  * so within-replica geometry (norms, dot products, cluster structure)
  * is preserved EXACTLY while replicas occupy distinct orthants. Three
  * embedding scale-ops run on it (names beyond SparkEntry.queries):
  *
  *  - `x_brute_topk`  — brute-force cosine top-k, fixed 10-query set;
  *  - `x_ivf_topk`    — IVF top-k, fixed nlist=32/nprobe=4 (the probed
  *    fraction is what a fixed config buys — linear by design);
  *  - `x_semdedup`    — SemDeDup at nlist=64: assignment is linear, the
  *    within-cluster pair stage is the algorithm's intrinsic
  *    O(avg-cluster²·nlist) — the nlist knob bounds it at scale.
  */
object ScaleCurve {
  /** Case-preserving Caesar shift of ASCII letters by `i`; every other
    * character rides unchanged (must agree with the translate() mapping
    * in the replication body).
    */
  private def caesar(s: String, i: Int): String = s.map {
    case c if c >= 'a' && c <= 'z' => (((c - 'a' + i) % 26) + 'a').toChar
    case c if c >= 'A' && c <= 'Z' => (((c - 'A' + i) % 26) + 'A').toChar
    case c => c
  }

  /** The five base query terms under every replica's Caesar image —
    * postings then grow with the factor in every replica (fixed terms
    * would match only replica 0).
    */
  private val caesarTerms: Seq[String] =
    Seq("spark", "join", "window", "merge", "filter")
      .flatMap(t => (0 until 26).map(i => caesar(t, i))).distinct

  /** Replica `i` of an embeddings frame — the per-replica SIGN-FLIP
    * isometry (object scaladoc): dimension d flips when bit (d % 16) of
    * (i · 2654435761) is set; replica 0 is the base exactly. Within a
    * replica, norms / dot products / cluster structure are preserved
    * bit-for-bit; distinct replicas occupy distinct orthants (the
    * multiplier is odd, so the 16-bit patterns are injective for
    * i < 2^16). Shared with AnnRecall's grown-corpus recall runs, which
    * need factors past the Caesar f≤26 document ceiling.
    */
  private[tools] def embeddingReplica(
      base: org.apache.spark.sql.DataFrame, i: Int): org.apache.spark.sql.DataFrame = {
    val pat = (i.toLong * 2654435761L) & 0xffffL
    val vec =
      if (i == 0) col("embedding")
      else org.apache.spark.sql.functions.zip_with(
        col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => when(
          (lit(pat.toDouble) / pow(lit(2.0), (d % 16).cast("double")))
            .cast("long") % 2 === 1, -x).otherwise(x).cast("float"))
    base.select(
      (col("vec_id") + lit(i.toLong * 1000000000L)).as("vec_id"),
      vec.as("embedding"), col("label"))
  }

  /** Deterministic planted-Gaussian-cluster corpus for AnnRecall's
    * clustered reads (r15 verdict #7): the sign-flip growth preserves
    * within-replica ISOTROPY — exactly the data shape that caps IVF
    * probe recall — so the ivf/ivfpq ladder also needs the opposite
    * shape, measured. `nClusters` centers with i.i.d. N(0, centerScale²)
    * components; vector i = center(hash(i) mod nClusters) + N(0, sigma²)
    * noise. Every value derives from xxhash64 via Box–Muller (u ∈ (0,1),
    * never 0, so ln is safe), so the corpus is bit-reproducible under
    * any partitioning and needs no materialization. With centerScale =
    * sigma = 1 and dim = 64, within-cluster cosine ≈ |c|²/(|c|²+|n|²) ≈
    * 0.5 against ≈ 0 across clusters — true neighbors concentrate in
    * the query's own cluster, the IVF-favoring regime.
    */
  private[tools] def clusteredCorpus(spark: org.apache.spark.sql.SparkSession,
      n: Long, dim: Int, nClusters: Int, centerScale: Double, sigma: Double,
      seed: Long): org.apache.spark.sql.DataFrame = {
    def unif(cols: Column*): Column =
      (shiftrightunsigned(xxhash64(cols: _*), 11).cast("double") + 0.5) /
        9007199254740992.0 // 2^53
    def gauss(tag: String, a: Column, b: Column): Column = {
      val u1 = unif(lit(tag), lit(1), a, b, lit(seed))
      val u2 = unif(lit(tag), lit(2), a, b, lit(seed))
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }
    val cluster = pmod(xxhash64(col("id"), lit(seed)), lit(nClusters.toLong))
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        (lit(centerScale) * gauss("c", cluster, d) +
          lit(sigma) * gauss("p", col("id"), d)).cast("float")).as("embedding"),
      cluster.cast("int").as("label"))
  }

  /** Deterministic ANISOTROPIC low-rank corpus (r17, verdict stretch):
    * vector i = W·z_i + ε — `rank` latent Gaussian coordinates with
    * geometrically decaying scales (`decay^j`), mixed through a FIXED
    * dense matrix W (seeded driver-side Gaussians, so the dominant
    * variance directions are NOT axis-aligned), plus isotropic ε·σ.
    * This is the data shape a PQ rotation exists for: axis-aligned
    * subspaces each see a mixture of the few dominant directions, while
    * a PCA rotation concentrates them — measuring whether OPQ-lite's
    * concentration HELPS (aligned codebooks) or HURTS (one subspace
    * holds all the variance, the others quantize noise) is the point.
    * Every per-vector value derives from xxhash64 Box–Muller like
    * [[clusteredCorpus]] — bit-reproducible under any partitioning.
    */
  private[tools] def anisotropicCorpus(spark: org.apache.spark.sql.SparkSession,
      n: Long, dim: Int, rank: Int, decay: Double, sigma: Double,
      seed: Long): org.apache.spark.sql.DataFrame = {
    def unif(cols: Column*): Column =
      (shiftrightunsigned(xxhash64(cols: _*), 11).cast("double") + 0.5) /
        9007199254740992.0 // 2^53
    def gauss(tag: String, a: Column, b: Column): Column = {
      val u1 = unif(lit(tag), lit(1), a, b, lit(seed))
      val u2 = unif(lit(tag), lit(2), a, b, lit(seed))
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }
    // fixed mixing matrix, driver-side but seed-deterministic
    val rnd = new scala.util.Random(seed)
    val w = Array.fill(dim, rank)(rnd.nextGaussian() / math.sqrt(dim.toDouble))
    val zs = (0 until rank).map(j =>
      (gauss("z", col("id"), lit(j)) * math.pow(decay, j)).as(s"__z$j"))
    spark.range(n)
      .select(col("id") +: zs: _*)
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          ((0 until rank).map(j => col(s"__z$j") * lit(w.map(_(j)))(d))
            .reduce(_ + _) + lit(sigma) * gauss("e", col("id"), d))
            .cast("float")).as("embedding"),
        lit(0).as("label"))
  }

  /** The replica-cache scheme identity ([[ReplicaCache]] marker): the
    * replication scheme version AND the base corpus it replicated —
    * shared with [[SpanDeltaBench]], which validates it before trusting
    * a cached dir as its base.
    */
  private[tools] def schemeId(sfDir: String): String =
    s"caesar-markerfix-v2 base=$sfDir"

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val factors = args(1).split(',').map(_.trim.toInt).toSeq
    // Caesar shifts 0..25 are distinct — 26 is the scheme's ceiling
    // (shift 26 would be the identity, colliding with replica 0)
    require(factors.forall(f => f >= 1 && f <= 26), s"factors in [1,26]: $factors")
    val names = args(2).split(',').map(_.trim).toSeq
    val reps = if (args.length > 3) args(3).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // embedding scale-ops (fixed configs chosen linear-by-design; see
    // the scaladoc) — keyed off SparkEntry so gated queries stay pinned
    val embOps: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "x_brute_topk" -> ((s, dir) => {
        val emb = graft.Tables.load(s, dir, "embeddings")
        graft.ops.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      }),
      "x_ivf_topk" -> ((s, dir) => {
        val emb = graft.Tables.load(s, dir, "embeddings")
        graft.ops.Similarity.ivfTopK(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") >= 20 && col("vec_id") < 30), "vec_id", "embedding",
          k = 5, nlist = 32, nprobe = 4)
      }),
      "x_semdedup" -> ((s, dir) =>
        graft.ops.Similarity.semDedup(
          graft.Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, nlist = 64)
          .select(col("id"), col("rep"), col("keep"))),
      // BM25 whose query terms cover every replica's Caesar image (shifts
      // 0..25 — the replication scheme's full range), so the postings —
      // not just the corpus tokenize/tf/dl stages — grow with the factor;
      // q80's fixed terms would match only replica 0
      "x_bm25" -> ((s, dir) => {
        graft.ops.TextAnalysis.bm25TopK(
          graft.Tables.load(s, dir, "documents"), "doc_id", "text",
          caesarTerms, k = 10)
      }),
      // q85's composition with Caesar-image terms, so the BM25-slice and
      // sample stages see postings from every replica (the chunk + dedup
      // stages grow with the corpus regardless) — the SAME shared builder
      // the gated query runs, key-encoding guard included
      "x_curation2" -> ((s, dir) =>
        graft.SparkEntry.curationV2Pipeline(
          graft.Tables.load(s, dir, "documents"), caesarTerms)),
      // q86's fusion with Caesar-image terms — the fused frame itself
      // grows with the factor (26x more query terms, f x more postings)
      "x_rrf" -> ((s, dir) =>
        graft.SparkEntry.rrfFusionPipeline(
          graft.Tables.load(s, dir, "documents"), caesarTerms)))

    // SPARK_GRAFT_SCALE_COLD=1: drop every cached frame before each
    // consume, so queries that persist internally (q97's dedup/scored
    // frames, bm25's tf frame) measure the FULL pipeline per rep instead
    // of the uncached tail — the number that must scale is the whole
    // build, not the cache read-back
    val cold = sys.env.get("SPARK_GRAFT_SCALE_COLD").contains("1")
    def consume(name: String, dir: String): Double = {
      if (cold) spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = embOps.getOrElse(name, graft.SparkEntry.queries(name))(spark, dir)
      graft.Bench.consume(df)
      (System.nanoTime() - t0) / 1e9
    }

    val results = scala.collection.mutable.ArrayBuffer[(Int, Long, String, Double)]()
    // Replication-scheme fingerprint (r14 ADVICE): replica dirs are cached
    // in /tmp and reused across runs, so a dir built by an EARLIER scheme
    // (r13 token-suffix) or from a different base corpus would be silently
    // measured under this scheme's assumptions — and the injectivity /
    // whitespace preconditions below are only asserted at build time. The
    // marker is written LAST, after every table lands, so a half-built dir
    // (crash mid-generation) also rebuilds instead of being trusted.
    val schemeId = ScaleCurve.schemeId(sfDir)
    for (f <- factors) {
      val dir = s"/tmp/graft_scale_f$f"
      val dirFile = new java.io.File(dir)
      ReplicaCache.wipeUnlessScheme(dirFile, schemeId)
      val docsPath = new java.io.File(s"$dir/documents.parquet")
      if (!docsPath.isDirectory) {
        val base = graft.Tables.load(spark, sfDir, "documents")
        // marker-fixed Caesar cipher per replica (scheme rationale in the
        // object scaladoc): letters shift by i via one translate() call,
        // marker tokens ride unchanged so gate verdicts are invariant
        val markerToks = graft.ops.TextAnalysis.LanguageMarkers
          .collect { case (l, ms) if l != "zh" => ms }.flatten.toSeq
        // Scheme preconditions, asserted per corpus (r14 review findings
        // — both hold on the synthetic corpora; a future corpus that
        // violates them would silently skew the curves, so fail fast):
        // (a) token separators are plain spaces — the cipher splits on
        //     ' ' while langId tokenizes on \s+, so a tab/newline inside
        //     a "token" would Caesar-shift marker words langId still
        //     counts, flipping gate verdicts between replicas;
        // (b) no corpus token is a Caesar PREIMAGE of a marker — such a
        //     token would shift INTO a fixed marker in some replica,
        //     breaking within-replica injectivity (the bijection the
        //     whole measurement rests on).
        val nonSpaceWs = base.where(col("text").rlike("[^\\S ]")).count()
        require(nonSpaceWs == 0,
          s"$nonSpaceWs docs contain non-space whitespace; the cipher's " +
            "space tokenization would diverge from langId's \\s+ tokenization")
        val preimages = (1 until f).flatMap(i =>
          markerToks.map(m => caesar(m, 26 - i))).distinct
            .filterNot(markerToks.contains) // markers themselves stay fixed
        if (preimages.nonEmpty) {
          val hits = base.select(explode(split(lower(col("text")), " ")).as("tok"))
            .where(col("tok").isInCollection(preimages))
            .groupBy(col("tok")).count().collect()
          require(hits.isEmpty,
            s"corpus tokens are Caesar preimages of markers (would merge with " +
              s"the fixed marker in some replica): ${hits.map(_.getString(0)).mkString(",")}")
        }
        val lowerAz = ('a' to 'z').mkString
        val upperAz = lowerAz.toUpperCase
        val replicated = (0 until f).map { i =>
          val text =
            if (i == 0) col("text")
            else {
              val to = caesar(lowerAz, i) + caesar(upperAz, i)
              concat_ws(" ", transform(split(col("text"), " "),
                w => when(lower(w).isInCollection(markerToks), w)
                  .otherwise(translate(w, lowerAz + upperAz, to))))
            }
          base.select(
            (col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
            text.as("text"), col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        replicated.write.mode("overwrite").parquet(docsPath.getAbsolutePath)
      }
      val embPath = new java.io.File(s"$dir/embeddings.parquet")
      if (!embPath.isDirectory) {
        val base = graft.Tables.load(spark, sfDir, "embeddings")
        val replicated = (0 until f).map(embeddingReplica(base, _))
          .reduce(_ unionByName _)
        replicated.write.mode("overwrite").parquet(embPath.getAbsolutePath)
      }
      val evPath = new java.io.File(s"$dir/events.parquet")
      if (!evPath.isDirectory) {
        val base = graft.Tables.load(spark, sfDir, "events")
        // codec family (q18/q40/q54/q60/q79): replicas re-key event ids
        // (the changelog __seq) and user ids (the materialize key) into
        // disjoint ranges; every other column — and so the JSON payload
        // bytes per record — is unchanged, making encode/decode work an
        // exact function of row count. Embarrassingly parallel by
        // construction; the measurement proves no hidden driver or
        // broadcast cost sneaks in.
        val replicated = (0 until f).map { i =>
          base.select(
            (col("event_id") + lit(i.toLong * 1000000000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + lit(i.toLong * 1000000000L)).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }.reduce(_ unionByName _)
        replicated.write.mode("overwrite").parquet(evPath.getAbsolutePath)
      }
      ReplicaCache.stampScheme(dirFile, schemeId)
      val rows = spark.read.parquet(docsPath.getAbsolutePath).count()
      for (name <- names) {
        consume(name, dir) // warm
        val best = (1 to reps).map(_ => consume(name, dir)).min
        println(f"[scale] f=$f rows=$rows $name%-22s $best%8.2f s")
        results += ((f, rows, name, best))
      }
    }
    // markdown table for NOTES.md: rows = query, cols = factor
    println("| query | " + factors.map(f => s"f=$f").mkString(" | ") + " |")
    println("|---|" + factors.map(_ => "---|").mkString)
    for (name <- names) {
      val cells = factors.map(f =>
        f"${results.collectFirst { case (`f`, _, `name`, s) => s }.get}%.2f")
      println(s"| $name | " + cells.mkString(" | ") + " |")
    }
    spark.stop()
  }
}
