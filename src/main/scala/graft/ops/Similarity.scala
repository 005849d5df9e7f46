package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>` /
  * `array<double>`).
  *
  * Scale design: the queries side is broadcast (top-k search for a bounded
  * query set is a broadcast nested loop — no shuffle of the corpus); the
  * LSH variant buckets the corpus once (narrow projection + one shuffle on
  * bucket id) and probes only matching buckets, trading recall for a
  * candidate set ~bucketCount× smaller than the corpus.
  *
  * Cache contract: see [[Dedup]] — persisted shared intermediates
  * (cluster assignments, pair frames) live until the caller unpersists.
  */
object Similarity {

  /** Dot product in double precision (sequential fold — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native single-pass kernel (bit-identical to the
    * fold formulation, ~dim× fewer interpreted lambda calls per pair).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.NativeVectorFunctions.cosine(a, b)

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, v) => acc + v))

  // ---- embedding storage compression (symmetric int8 quantization:
  // the standard 4× shrink for billion-vector stores; cosine/dot on
  // dequantized vectors stays within ~1% for typical embeddings) ----

  /** Per-vector scale for symmetric int8 quantization: `max|v| / 127`.
    * Materialize this into its own column BEFORE [[quantizeInt8]] — an
    * inlined scale expression would re-run the max fold once per element
    * (O(dim²) per row).
    */
  def int8Scale(vec: Column): Column =
    aggregate(vec, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0

  /** Symmetric int8 codes: `q_i = floor(v_i/scale + 0.5)` — explicit
    * half-up, because `round()` rounds half-to-even in some engines and
    * the oracle must compute identical codes. A zero vector (scale 0)
    * keeps all-zero codes.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") / scale + 0.5))
        .cast("tinyint"))

  /** Reconstruct approximate values from int8 codes + scale. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Sign random projection (Achlioptas' ±1 variant of
    * Johnson–Lindenstrauss): `out[i] = Σ_j v[j]·sign(i,j) / √outDim`.
    * The standard dimensionality squeeze before ANN over billion-vector
    * stores — a pure projection (no shuffle, no state), with the sign
    * matrix derived from a PRF instead of materialized: at 100 TB the
    * matrix never exists, only its formula ships with the plan. The
    * default sign is xxhash64-based; pass `sign` to pin an explicit
    * formula (the correctness gate injects an arithmetic PRF that DuckDB
    * replicates bit-for-bit). JL distortion law is spec-gated on the
    * default.
    */
  def signProjection(vec: Column, outDim: Int, seed: Long = 42L,
      sign: (Int, Column) => Column = null): Column = {
    require(outDim > 0, s"outDim must be positive: $outDim")
    val signFn: (Int, Column) => Column =
      if (sign != null) sign
      else (i, j) => lit(1.0) - lit(2.0) *
        pmod(xxhash64(lit(seed), lit(i), j), lit(2)).cast("double")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // size=0 would make sequence(0, -1) DESCEND to [0,-1] and zip_with
    // null-pad every component — an empty vector projects to zeros instead
    array((0 until outDim).map { i =>
      when(size(vec) === 0, lit(0.0)).otherwise(
        aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, j) => x.cast("double") * signFn(i, j)),
          lit(0.0), (a, v) => a + v) * scale)
    }: _*)
  }

  /** PCA model: per-dimension means, principal components (rows), and
    * the eigenvalues (component variances). [[pcaFit]] returns rows in
    * DESCENDING eigenvalue order; [[balanceRotation]] PERMUTES rows for
    * a subspace split (eigenvalues stay row-aligned but are no longer
    * monotone) — consumers that truncate with `components.take(k)` must
    * use a pcaFit-ordered model, never a balanced one.
    */
  final case class PcaModel(
      means: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double])

  /** One-pass PCA fit: the d×d Gram matrix and the mean accumulate in a
    * single `treeAggregate` over fixed-size arrays (the MLlib RowMatrix
    * shape, and the same fold as the Lloyd rounds of [[lloydRound]]:
    * per-partition array accumulation moves d²+d values per partition,
    * where n×d² exploded rows through a shuffle would be astronomically
    * worse at scale), then the driver runs an O(d³) Jacobi eigensolver on
    * the d×d covariance — control-plane work, d is 64-1024 for embedding
    * stores, never data-sized.
    *
    * BIT-REPRODUCIBLE under any partitioning (r16, same trick as the
    * fixed-point Lloyd): every accumulated term — each component `x_i`
    * and each product `x_i·x_j` — goes through [[FixedPoint.quantize]]
    * (the 2⁻²⁴ grid, NaN/Inf rejected with the dimension named) and is
    * summed as a Long; integer addition is associative, so
    * partition/combine order cannot move the sums. Means and second
    * moments are then ONE IEEE division each of exactly-represented
    * integers, the covariance/Jacobi pipeline is deterministic
    * driver-side arithmetic over those — the whole rotation (and
    * everything trained on rotated vectors, e.g. OPQ-lite codebooks) is a
    * pure function of the data. Quantizing products (not factors) keeps
    * the grid error ≤ 2⁻²⁵ per term; the driver-side require guards the
    * 2⁵³ exactness window.
    */
  def pcaFit(df: DataFrame, vecCol: String, k: Int): PcaModel = fitPca(df, vecCol, Some(k))

  /** [[pcaFit]] keeping `k` components, or all d of them (full rank) for
    * None — d comes from the one dimension probe either way.
    */
  private def fitPca(df: DataFrame, vecCol: String, rank: Option[Int]): PcaModel = {
    val first = df.select(col(vecCol)).where(col(vecCol).isNotNull).head()
    val d = first.getSeq[Any](0).size
    val k = rank.getOrElse(d)
    require(k >= 1 && k <= d, s"k=$k out of range for dim $d")
    // acc layout: [count, sum(d), gram upper triangle (d*(d+1)/2)] — all
    // fixed-point Longs on the 2^-24 grid
    val tri = d * (d + 1) / 2
    val zero = new Array[Long](1 + d + tri)
    def seqOp(acc: Array[Long], v: Seq[Double]): Array[Long] = {
      require(v.size == d,
        s"ragged embedding dimension: expected $d (from the first row), got ${v.size}")
      acc(0) += 1
      // every component first, so a NaN/Inf fails naming its own dim
      // rather than the dim of an earlier factor in a product
      var i = 0
      while (i < d) { acc(1 + i) += FixedPoint.quantize(v(i), i); i += 1 }
      var t = 1 + d
      i = 0
      while (i < d) {
        val vi = v(i)
        var j = i
        while (j < d) { acc(t) += FixedPoint.quantize(vi * v(j), i); t += 1; j += 1 }
        i += 1
      }
      acc
    }
    val acc = df.select(col(vecCol).cast("array<double>"))
      .where(col(vecCol).isNotNull)
      .rdd.map(_.getSeq[Double](0))
      .treeAggregate(zero)(seqOp, FixedPoint.addInto)
    acc.foreach(s => require(math.abs(s) < (1L << 53),
      s"PCA fixed-point sum $s exceeds the 2^53 double-exactness window; " +
        "raise the quantization grid for this corpus"))
    val n = acc(0).toDouble
    require(n > 1, s"PCA needs more than one vector, got $n")
    val means = Array.tabulate(d)(i => acc(1 + i).toDouble / (n * FixedPoint.Scale))
    // covariance (population): E[x xT] - mean meanT, symmetrized from the
    // upper triangle
    val cov = Array.ofDim[Double](d, d)
    var t = 1 + d
    for (i <- 0 until d; j <- i until d) {
      val c = acc(t).toDouble / (n * FixedPoint.Scale) - means(i) * means(j)
      cov(i)(j) = c; cov(j)(i) = c
      t += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    // sort descending by eigenvalue; components as ROWS
    val order = eigVals.zipWithIndex.sortBy(-_._1).map(_._2).take(k)
    PcaModel(means,
      order.map(c => Array.tabulate(d)(r => eigVecs(r)(c))),
      order.map(eigVals))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector COLUMNS). O(d³) per sweep, converges
    * quadratically; driver-side control plane.
    */
  private[ops] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      for (p <- 0 until d; q <- (p + 1) until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-18) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
          val tTan = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
          val c = 1 / math.sqrt(tTan * tTan + 1)
          val s = tTan * c
          var i = 0
          while (i < d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
            i += 1
          }
          i = 0
          while (i < d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
            i += 1
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project onto a fitted [[PcaModel]]: center by the means, dot with
    * each component — a literal-expression projection, the same plan
    * shape as [[signProjection]]. PLAN-SIZE CAVEAT: the k×d matrix
    * becomes k×d literal nodes; fine for small k (a 16-component squeeze
    * is ~1k nodes), but full-rank d=64 round trips inflate the plan to
    * tens of MB — use [[pcaRoundTripErrors]]' mapPartitions kernel shape
    * there (the matrix rides the closure as 32 KB of doubles instead).
    */
  def pcaProject(vec: Column, model: PcaModel): Column = {
    val centered = zip_with(vec,
      array(model.means.toIndexedSeq.map(lit): _*),
      (x, mu) => x.cast("double") - mu)
    array(model.components.toIndexedSeq.map { comp =>
      aggregate(
        zip_with(centered, array(comp.toIndexedSeq.map(lit): _*), (x, w) => x * w),
        lit(0.0), (a, x) => a + x)
    }: _*)
  }

  /** Reconstruct from a projection (k = full rank ⇒ exact identity — the
    * q78 gate's algebraic check). Same plan-size caveat as
    * [[pcaProject]].
    */
  def pcaReconstruct(proj: Column, model: PcaModel): Column = {
    val d = model.means.length
    array((0 until d).map { r =>
      aggregate(
        zip_with(proj,
          array(model.components.toIndexedSeq.map(c => lit(c(r))): _*), (p, w) => p * w),
        lit(model.means(r)), (a, x) => a + x)
    }: _*)
  }

  /** Full-rank project→reconstruct diagnostics, per row: max absolute
    * reconstruction error and centered-norm preservation error, each
    * rounded to 6 decimals (exactly 0.0 iff the eigenbasis is orthonormal
    * and the algebra is right). Partition-local kernel: the d×d component
    * matrix rides the task closure (32 KB of doubles) — expressing the
    * same as literal columns inflates the PLAN to ~17 MB per stage,
    * measured — while the per-row work is the same O(d²) either way.
    */
  def pcaRoundTripErrors(df: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("emb_id", LongType),
      StructField("recon_err", DoubleType),
      StructField("norm_err", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val means = model.means
    val comps = model.components
    // null vectors are excluded exactly as pcaFit excludes them — a null
    // row must not NPE the kernel after a successful fit
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .where(col(vecCol).isNotNull)
      .mapPartitions { rows =>
        val d = means.length
        rows.map { r =>
          val v = r.getSeq[Double](1).toArray
          val centered = Array.tabulate(d)(j => v(j) - means(j))
          val p = comps.map { c =>
            var s = 0.0; var j = 0
            while (j < d) { s += centered(j) * c(j); j += 1 }
            s
          }
          var reconErr = 0.0
          var j = 0
          while (j < d) {
            var rec = means(j)
            var c = 0
            while (c < comps.length) { rec += p(c) * comps(c)(j); c += 1 }
            reconErr = math.max(reconErr, math.abs(v(j) - rec))
            j += 1
          }
          var pn = 0.0; var cn = 0.0
          var i = 0
          while (i < p.length) { pn += p(i) * p(i); i += 1 }
          i = 0
          while (i < d) { cn += centered(i) * centered(i); i += 1 }
          def r6(x: Double) = math.rint(x * 1e6) / 1e6
          Row(r.getLong(0), r6(reconErr), r6(math.abs(pn - cn)))
        }
      }(enc)
  }

  /** PCA whitening from a fitted model: `w = diag(1/√(λ+eps)) · Uᵀ(x−μ)`
    * — the standard embedding pre-conditioner (decorrelate + equalize
    * variance) ahead of cosine-similarity dedup à la SemDeDup, where raw
    * embedding dimensions with outsized variance otherwise dominate every
    * distance. Same partition-local kernel shape as
    * [[pcaRoundTripErrors]]; `eps` keeps near-null directions from
    * exploding. Law (OpsSpec): whitened sample covariance ≈ identity.
    */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String,
      model: PcaModel, eps: Double = 1e-9): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("whitened", ArrayType(DoubleType))))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val means = model.means
    val comps = model.components
    val invStd = model.eigenvalues.map(l => 1.0 / math.sqrt(math.max(l, 0) + eps))
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .where(col(vecCol).isNotNull)
      .mapPartitions { rows =>
        val d = means.length
        rows.map { r =>
          val v = r.getSeq[Double](1).toArray
          val centered = Array.tabulate(d)(j => v(j) - means(j))
          val w = Array.tabulate(comps.length) { c =>
            var s = 0.0; var j = 0
            while (j < d) { s += centered(j) * comps(c)(j); j += 1 }
            s * invStd(c)
          }
          Row(r.getLong(0), w.toSeq)
        }
      }(enc)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` must be small enough to broadcast (the standard ANN-recall
    * baseline); corpus side stays partition-parallel with no shuffle until
    * the final per-query top-k (a tiny aggregation keyed by query id).
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val joined = corpus.crossJoin(
      broadcast(queries.select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))))
    val scored = joined
      .where(if (excludeSelf) col(corpusId) =!= col("__qid") else lit(true))
      .select(
        col("__qid").as("query_id"),
        col(corpusId).as("neighbor_id"),
        cosine(col("__qvec"), col(corpusVec)).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 9).as("cos"))
  }

  /** Sign-bit LSH bucket id from `numPlanes` pseudo-random hyperplanes —
    * native single-pass kernel. The deterministic plane component for
    * (plane, i) is a hash mapped into [-0.5, 0.5); bucketing and probing
    * share it, so no stored model is needed — the "model" is the hash
    * seed. (The composed `aggregate(zip_with(...))` formulation costs
    * numPlanes × dim interpreted closure calls per row; the kernel is
    * bit-identical — see OpsSpec's equivalence law.)
    */
  def lshBucket(vec: Column, numPlanes: Int = 8): Column =
    graft.functions.expressions.NativeVectorFunctions.lshBucket(vec, numPlanes)

  /** Approximate top-k: corpus bucketed by [[lshBucket]]; each query only
    * scans its own bucket. Recall < 1 by construction; increase recall by
    * lowering `numPlanes` (bigger buckets), raising `probeHamming`
    * (multiprobe), or amplifying across tables ([[lshTopKMultiTable]]).
    *
    * Default calibration (AnnRecall, 64-dim near-isotropic corpus —
    * realistic embedding distributions, where single-probe sign-LSH is
    * measurably weak):
    * {{{
    * numPlanes=8 probe=0   recall@10 ≈ 0.02   (the r14 footgun — avoid)
    * numPlanes=8 probe=1   recall@10 ≈ 0.13   (this default: 9/256 buckets)
    * numPlanes=4 probe=1   recall@10 ≈ 0.50   (5/16 buckets — the q25 config)
    * 16 tables p=8 probe=1 recall@10 ≥ 0.8    (lshTopKMultiTable — the
    *                                           banded-OR amplification)
    * }}}
    * On CLUSTERED corpora recall is far higher at every setting (planes
    * rarely split a tight cluster — OpsSpec's floor laws). The default is
    * probeHamming=1 since r15: probe=0 at 8 planes returned near-random
    * neighbors on isotropic data while looking plausible.
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numPlanes: Int = 8, probeHamming: Int = 1): DataFrame =
    lshTopKBucketed(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, lshBucket(_, numPlanes), numPlanes, probeHamming)

  /** Hyperplane components derived from md5 — the oracle-reproducible
    * plane table for [[lshTopKPlanes]]: component (p, i) is
    * uint32(first 8 hex digits of md5("tag:p:i")) / 2^32 − 0.5, a dyadic
    * rational with a ≤32-bit numerator, so the double value is EXACT and
    * any engine with md5 (DuckDB:
    * `('0x'||substr(md5(...),1,8))::UBIGINT / 4294967296.0 - 0.5`)
    * derives the identical plane table bit-for-bit. Distribution is the
    * same uniform [-0.5, 0.5) family as the production xxhash64 planes.
    */
  def md5Planes(tag: String, numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes) { p =>
      Array.tabulate(dim) { i =>
        val hex = md.digest(s"$tag:$p:$i".getBytes("UTF-8"))
          .take(4).map(b => f"${b & 0xff}%02x").mkString
        java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
      }
    }
  }

  /** [[lshTopK]] over an EXPLICIT hyperplane table (e.g. [[md5Planes]]) —
    * the oracle-gate variant: same bucketing/join/top-k machinery, but the
    * bucket assignment is recomputable bit-for-bit outside Spark, so the
    * APPROXIMATE configuration (recall < 1) can be checked exactly against
    * an external ground truth. Production use goes through [[lshTopK]]'s
    * xxhash64 planes (no plane table to ship).
    */
  def lshTopKPlanes(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, planes: Array[Array[Double]], probeHamming: Int = 0): DataFrame =
    lshTopKBucketed(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, graft.functions.expressions.NativeVectorFunctions.planeLshBucket(_, planes),
      planes.length, probeHamming)

  /** The `numTables` independent md5-derived plane tables for
    * [[lshTopKMultiTable]]: table `t` is `md5Planes("tag:t", ...)`, so the
    * whole bank is recomputable bit-for-bit by any engine with md5 — the
    * amplified construction stays oracle-gateable exactly like the
    * single-table [[lshTopKPlanes]] recipe.
    */
  def md5PlaneTables(tag: String, numTables: Int, numPlanes: Int,
      dim: Int): Seq[Array[Array[Double]]] =
    (0 until numTables).map(t => md5Planes(s"$tag:$t", numPlanes, dim))

  /** Multi-table (banded-OR) LSH amplification — the structural recall
    * fix for sign-LSH on realistic (near-isotropic) embeddings, where a
    * single table tops out around recall 0.5 even with multiprobe
    * (AnnRecall, r14): run `tables.length` INDEPENDENT plane tables,
    * union each query's per-table candidates, dedup, and rank the union
    * exactly. A neighbor is found if ANY table co-buckets it —
    * recall = 1 − (1 − r₁)^L for per-table recall r₁ — while a RANDOM
    * point is scanned with the much smaller 1 − (1 − f₁)^L, f₁ the
    * per-table bucket fraction: amplification widens the neighbor/random
    * gap that one table can't. Measured on the 64-dim isotropic corpus
    * (AnnRecall r15): 16 tables × 8 planes, Hamming-1 probes →
    * recall@10 ≈ 0.85 while scanning ≈ 0.4 of the corpus per query,
    * where the best single-table config at that recall scans ~everything.
    *
    * Plan shape: the corpus is scanned ONCE — one projection computes all
    * L bucket ids (fused native kernels), one `posexplode` emits the L
    * `(table, bucket)` rows, and the broadcast-hash join against the
    * exploded query probe set never shuffles the corpus. A pair colliding
    * in several tables is deduped by a `(query_id, neighbor_id)` groupBy
    * whose shuffle carries only id/score triples of the CANDIDATE set
    * (queries × collided rows — never corpus-sized); cosine is a pure
    * function of the pair, so `max` just picks the replicated value.
    */
  def lshTopKMultiTable(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, tables: Seq[Array[Array[Double]]],
      probeHamming: Int = 1): DataFrame = {
    import graft.functions.expressions.NativeVectorFunctions.planeLshBucket
    require(tables.nonEmpty, "need at least one plane table")
    val numPlanes = tables.head.length
    require(tables.forall(_.length == numPlanes),
      s"all tables need the same plane count: ${tables.map(_.length).distinct}")
    require(numPlanes >= 1 && numPlanes <= 63,
      s"numPlanes in [1, 63]: $numPlanes (bucket bits live in one Long)")
    require(probeHamming >= 0 && probeHamming <= numPlanes,
      s"probeHamming in [0, numPlanes]: $probeHamming vs $numPlanes")

    val bucketed = corpus.select(
      col(corpusId).as("__cid"), col(corpusVec).as("__cvec"),
      posexplode(array(tables.map(t => planeLshBucket(col(corpusVec), t)): _*))
        .as(Seq("__t", "__bucket")))
    val flips: Seq[Long] = (0 to probeHamming).flatMap(d =>
      (0 until numPlanes).combinations(d)
        .map(_.foldLeft(0L)((a, b) => a | (1L << b))))
    val probesPerTable = array(tables.map { t =>
      val base = planeLshBucket(col(queryVec), t)
      array(flips.map(m => base.bitwiseXOR(lit(m))): _*)
    }: _*)
    val q = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"),
        posexplode(probesPerTable).as(Seq("__t", "__probes")))
      .select(col("__qid"), col("__qvec"), col("__t"),
        explode(col("__probes")).as("__bucket")))
    val scored = bucketed.join(q, Seq("__t", "__bucket"))
      .where(col("__cid") =!= col("__qid"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        cosine(col("__qvec"), col("__cvec")).as("cos"))
    val dedup = scored.groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    dedup.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 9).as("cos"))
  }

  /** Shared LSH top-k core. `probeHamming` enables MULTIPROBE (Lv et al.
    * 2007): each query also probes every bucket within that Hamming
    * distance of its own (probeHamming=1 → 1+numPlanes buckets — the
    * buckets reachable by one hyperplane's sign flipping, i.e. the most
    * likely homes of near neighbors that landed just across a plane).
    * Candidates grow (1 + Σ C(numPlanes, d))-fold while recall typically
    * multiplies — the standard way to buy recall WITHOUT rebucketing the
    * corpus. A corpus vector lives in exactly one bucket and a query's
    * probe set is distinct buckets, so candidate pairs stay distinct —
    * no dedup shuffle. Only the BROADCAST query side expands; the corpus
    * is never touched.
    */
  private def lshTopKBucketed(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, bucketOf: Column => Column,
      numPlanes: Int, probeHamming: Int): DataFrame = {
    require(numPlanes >= 0 && numPlanes <= 63,
      s"numPlanes in [0, 63]: $numPlanes — bucket bits live in one Long, " +
        "and 1L << p wraps silently at p >= 64 (colliding buckets, wrong probe masks)")
    require(probeHamming >= 0 && probeHamming <= numPlanes,
      s"probeHamming in [0, numPlanes]: $probeHamming vs $numPlanes")
    val bucketed = corpus.withColumn("__bucket", bucketOf(col(corpusVec)))
    val base = bucketOf(col(queryVec))
    val probeBuckets =
      if (probeHamming == 0) base.as("__bucket")
      else {
        // bit masks with <= probeHamming of the numPlanes plane bits set,
        // built combinatorially (never a 2^numPlanes scan)
        val flips: Seq[Long] = (0 to probeHamming).flatMap(d =>
          (0 until numPlanes).combinations(d)
            .map(_.foldLeft(0L)((a, b) => a | (1L << b))))
        explode(array(flips.map(m => base.bitwiseXOR(lit(m))): _*)).as("__bucket")
      }
    val q = broadcast(queries.select(
      col(queryId).as("__qid"),
      col(queryVec).as("__qvec"),
      probeBuckets))
    val scored = bucketed.join(q, "__bucket")
      .where(col(corpusId) =!= col("__qid"))
      .select(
        col("__qid").as("query_id"),
        col(corpusId).as("neighbor_id"),
        cosine(col("__qvec"), col(corpusVec)).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 9).as("cos"))
  }

  /** Nearest centroid id — projection-only argmin: the centroid table
    * rides inside a native expression (no crossJoin, no window, no
    * shuffle); squared-L2 with ties to the smaller centroid id.
    */
  def nearestCentroid(vec: Column, centroids: Array[(Int, Array[Double])]): Column =
    element_at(graft.functions.expressions.NativeVectorFunctions
      .nearestCentroids(vec, centroids, 1), 1)

  /** The `n` nearest centroid ids, nearest first — projection-only. */
  def nearestCentroids(vec: Column, centroids: Array[(Int, Array[Double])], n: Int): Column =
    graft.functions.expressions.NativeVectorFunctions.nearestCentroids(vec, centroids, n)

  /** One fixed-point Lloyd round over `m` codebooks of `k` entries of
    * `sd` components each — PQ's subspaces, or IVF as m = 1 with the
    * centroid index as the code. `codes` is the caller's assignment
    * projection of `__v` under `books` ([[nearestCentroids]] or
    * [[PqCodesExpr]]: the one place the argmin and its strict-`<` tie
    * rule live). Every non-null vector folds into one `[n, Σq(x_0..x_sd-1)]`
    * Long cell per (subspace, code) in a single `treeAggregate`: one job,
    * no row leaves its task, each task ships one m×k×(sd+1) array (on
    * many partitions the tree level combines those arrays, never rows) —
    * the same fold as [[pcaFit]]'s Gram.
    *
    * Long addition is associative, so the sums are identical under any
    * partitioning. Each new component is then ONE IEEE division
    * `s / (n·2²⁴)` of exactly-represented integers on the driver — the
    * same double on every engine. The require guards the |s| < 2⁵³
    * exactness window (≈ 5·10⁸ rows per cell at |x| ≤ 16 — past it, raise
    * the grid, don't drop the guard). A cell no vector chose keeps its
    * entry.
    */
  private def lloydRound(vecs: DataFrame, codes: Column,
      books: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    val m = books.length
    val k = books(0).length
    val sd = books(0)(0).length
    val cell = 1 + sd
    def seqOp(acc: Array[Long], row: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
      val v = row.getArray(0)
      require(v.numElements() == m * sd,
        s"ragged embedding dimension: expected ${m * sd}, got ${v.numElements()}")
      val c = row.getArray(1)
      var j = 0
      while (j < m) {
        var t = (j * k + c.getInt(j)) * cell
        acc(t) += 1
        var i = j * sd
        while (i < (j + 1) * sd) {
          t += 1; acc(t) += FixedPoint.quantize(v.getDouble(i), i); i += 1
        }
        j += 1
      }
      acc
    }
    val sums = vecs.where(col("__v").isNotNull).select(col("__v"), codes)
      .queryExecution.toRdd
      .treeAggregate(new Array[Long](m * k * cell))(seqOp, FixedPoint.addInto)
    Array.tabulate(m, k) { (j, c) =>
      val t = (j * k + c) * cell
      val n = sums(t)
      if (n == 0) books(j)(c)
      else Array.tabulate(sd) { i =>
        val s = sums(t + 1 + i)
        require(math.abs(s) < (1L << 53),
          s"Lloyd fixed-point sum $s exceeds the 2^53 double-exactness " +
            "window; raise the quantization grid for this corpus")
        s.toDouble / (n.toDouble * FixedPoint.Scale)
      }
    }
  }

  /** Deterministic k-means-lite centroids for IVF: init = the `nlist`
    * vectors with the smallest ids, then `iters` rounds of [[lloydRound]]
    * with m = 1 over the persisted vector projection. Assignment is the
    * [[nearestCentroids]] projection (ties to the smaller id); the mean
    * update is one `treeAggregate` of fixed-point Long cells, so training
    * runs 1 + `iters` jobs and never shuffles a row, and the driver only
    * ever holds the O(nlist×dim) centroid table — never corpus rows.
    *
    * BIT-REPRODUCIBLE under any partitioning (r15, verdict #4): the
    * fixed-point sums cannot depend on combine order, and each centroid
    * component is one IEEE division — which is what lets the TRAINED q33
    * gate exist (DuckDB folds the identical update; r14 had to pin
    * iters=0 because double-sum training was accumulation-order
    * dependent). Quantization costs 2⁻²⁵ per component per round — noise
    * against k-means' own convergence tolerance. Null vectors train
    * nothing; NaN/Inf components and ragged dimensions fail loudly.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): Array[(Int, Array[Double])] = {
    var centroids: Array[(Int, Array[Double])] =
      corpus.orderBy(col(idCol)).limit(nlist)
        .select(col(vecCol).cast("array<double>")).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    if (iters > 0 && centroids.nonEmpty) {
      // the vector projection feeds every Lloyd round: persist it once
      // (standard k-means practice; spills to disk if it outgrows memory)
      val vecs = corpus.select(col(vecCol).cast("array<double>").as("__v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        for (_ <- 0 until iters) {
          // centroid ids are their indices, so the id IS the m = 1 code
          val book = lloydRound(vecs, nearestCentroids(col("__v"), centroids, 1),
            Array(centroids.map(_._2)))(0)
          centroids = book.zipWithIndex.map(_.swap)
        }
      } finally { vecs.unpersist(false); () }
    }
    centroids
  }

  /** IVF approximate top-k: corpus partitioned into `nlist` inverted lists
    * by nearest centroid; each query probes its `nprobe` closest lists.
    * Candidate set shrinks ~nlist/nprobe-fold vs brute force; recall
    * depends on cluster structure.
    *
    * Plan shape: list assignment on both sides is projection-only
    * ([[nearestCentroid]]/[[nearestCentroids]]); the probe join broadcasts
    * the exploded query×list table, so the corpus is never shuffled until
    * the tiny per-query top-k window. A corpus vector lives in exactly one
    * list, so candidate pairs are already distinct — no dedup shuffle.
    */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame =
    ivfTopKPrecomputed(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, trainIvfCentroids(corpus, corpusId, corpusVec, nlist, iters), nprobe)

  /** [[ivfTopK]] over an already-trained centroid table — the shape for
    * callers probing several configurations of one index (AnnRecall's
    * nprobe ladder): training is deterministic (fixed-point Lloyd), so
    * identical (nlist, iters) re-trainings are pure waste.
    */
  def ivfTopKPrecomputed(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, centroids: Array[(Int, Array[Double])], nprobe: Int): DataFrame = {
    val indexed = corpus
      .select(col(corpusId).as("__id"), col(corpusVec).as("__vec"))
      .withColumn("__list", nearestCentroid(col("__vec").cast("array<double>"), centroids))
    val probed = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__list",
        explode(nearestCentroids(col("__qvec").cast("array<double>"), centroids, nprobe))))

    val scored = indexed.join(probed, "__list")
      .where(col("__id") =!= col("__qid"))
      .select(col("__qid").as("query_id"), col("__id").as("neighbor_id"),
        cosine(col("__qvec"), col("__vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 9).as("cos"))
  }

  /** Deterministic product-quantization codebooks (Jégou, Douze, Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * vector space is split into `m` contiguous subspaces of dim/m
    * components, and each subspace gets its own `ksub`-entry codebook —
    * the memory story IVF alone cannot tell: a 64-float vector becomes m
    * small ints (m=4: 16 bytes → 4 codes), with k_sub^m effective cells.
    *
    * Training is [[trainIvfCentroids]]' Lloyd per subspace — init =
    * slices of the `ksub` smallest-id vectors, then `iters` rounds of
    * [[lloydRound]] — so trained codebooks are bit-reproducible under any
    * partitioning and an external engine folding the same update derives
    * them bit-for-bit (the q89 gate). All m subspaces train in the SAME
    * job per round: one [[PqCodesExpr]] projection assigns every
    * subspace and one `treeAggregate` sums the m×ksub fixed-point cells,
    * so training runs 1 + `iters` jobs and never shuffles a row, and the
    * driver only ever holds the m×ksub×(dim/m) codebook table.
    */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 3): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1 && iters >= 0,
      s"m, ksub >= 1 and iters >= 0: m=$m ksub=$ksub iters=$iters")
    val init = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(init.length == ksub, s"corpus has ${init.length} rows < ksub=$ksub")
    val dim = init(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sd = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => init.map(v => v.slice(j * sd, (j + 1) * sd)))
    if (iters > 0) {
      val vecs = corpus.select(col(vecCol).cast("array<double>").as("__v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        for (_ <- 0 until iters)
          books = lloydRound(vecs,
            graft.functions.expressions.NativeVectorFunctions.pqCodes(col("__v"), books),
            books)
      } finally { vecs.unpersist(false); () }
    }
    books
  }

  /** PQ code assignment as a pure projection — `array<int>` of m codes
    * ([[PqCodesExpr]]: squared-L2 argmin per subspace, ties to the
    * smaller code).
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.expressions.NativeVectorFunctions.pqCodes(
      vec.cast("array<double>"), codebooks)

  /** Build the materialized PQ index: one `(id, codes array<int>)` row
    * per vector — m×4 bytes against dim×8, the scan-traffic point of PQ.
    * Persist THIS table; [[pqTopKPrecoded]]'s coarse stage then never
    * touches full-precision data.
    */
  def materializePqCodes(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol), pqEncode(col(vecCol), codebooks).as("codes"))

  /** The ADC score of a code vector against a per-query LUT: m 1-based
    * array lookups summed LEFT-TO-RIGHT (((d₀+d₁)+d₂)+d₃ — the fixed
    * association an external engine reproduces with an ordered list
    * fold), composed from codegen'd built-ins.
    */
  private def adcScore(lut: Column, codes: Column, m: Int, ksub: Int): Column =
    (0 until m).map(j => element_at(lut, codes.getItem(j) + lit(j * ksub + 1)))
      .reduce(_ + _)

  /** Shared ADC tail for the vector-carrying paths (pq + ivf-pq): coarse
    * cut by (adc ASC, id ASC) with WindowGroupLimit, exact cosine rerank
    * of the survivors. `coarse` must carry (query_id, neighbor_id,
    * __qvec, __cvec, adc). One definition so a tie-break or rounding
    * change can never diverge the q89 and q90 result shapes.
    */
  private def adcRerankCarried(coarse: DataFrame, k: Int, coarseK: Int): DataFrame = {
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    coarse.withColumn("__crank", row_number().over(w1))
      .where(col("__crank") <= coarseK)
      .withColumn("cos", cosine(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 9).as("cos"), round(col("adc"), 9).as("adc"))
  }

  /** PQ/ADC approximate top-k with exact rerank: stage 1 scores every
    * (query, corpus) pair ASYMMETRICALLY — the query keeps full
    * precision, the corpus vector is represented by its m codes, and the
    * squared-L2 distance to each reconstruction is `m` lookups into the
    * query's precomputed [[PqLutExpr]] table + `m−1` adds (never a
    * dim-length loop) — and keeps `coarseK` candidates per query
    * (smallest ADC distance, ties to the smaller id); stage 2 re-scores
    * only those with exact float cosine. This is the FAISS PQ/ADC
    * pattern: at 100 TB the coarse scan streams m ints per vector, 16×
    * less traffic than the float column at m=4/dim=64.
    *
    * Determinism: LUT entries are index-order squared-L2 folds and the
    * ADC sum is a fixed left-to-right association of m doubles, so the
    * coarse ranking is bit-reproducible and — with fixed-point-trained
    * codebooks — the whole APPROXIMATE selection is oracle-checkable
    * (q89). Plan shape mirrors [[rerankTopK]]: queries broadcast with
    * their LUTs, corpus never shuffles until the per-query windows.
    *
    * This overload derives codes from the float vectors per call (the
    * convenience path). The production shape is [[materializePqCodes]]
    * once + [[pqTopKPrecoded]] per query batch. Size `coarseK` by
    * [[autoCoarseK]]'s corpus-proportional rule — a fixed value decays
    * under corpus growth (measured table at the definition).
    */
  def pqTopKPrecomputed(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, codebooks: Array[Array[Array[Double]]], coarseK: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must cover k ($k)")
    val m = codebooks.length
    val ksub = codebooks(0).length
    val c = corpus.select(col(corpusId).as("__cid"), col(corpusVec).as("__cvec"))
      .withColumn("__codes", pqEncode(col("__cvec"), codebooks))
    val q = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__lut", graft.functions.expressions.NativeVectorFunctions
        .pqLut(col("__qvec").cast("array<double>"), codebooks)))
    val coarse = c.crossJoin(q)
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("__qvec"), col("__cvec"),
        adcScore(col("__lut"), col("__codes"), m, ksub).as("adc"))
    adcRerankCarried(coarse, k, coarseK)
  }

  /** Corpus-proportional `coarseK` default: `max(64, ceil(0.02·n))`.
    * A FIXED coarseK decays under corpus growth BY CONSTRUCTION — the
    * coarse ADC ranking's precision is roughly scale-free, so keeping a
    * constant number of candidates out of an ever-larger corpus keeps an
    * ever-smaller fraction of the true neighborhood. Measured (AnnRecall,
    * recall@10, m=4/ksub=16): fixed coarseK=64 reads 0.31 at 2k vectors
    * but 0.107 at 128k, and the IVF-PQ analog 0.476→0.233, while the
    * 2%-of-corpus sizing holds 0.79 at 128k. The convenience trainers
    * below apply this automatically; the Precomputed/Precoded forms take
    * an explicit coarseK — size it by the same rule (n is the corpus or
    * code-table count the caller already has).
    */
  def autoCoarseK(n: Long): Int =
    math.min(math.max(64L, math.ceil(n * 0.02).toLong), Int.MaxValue.toLong).toInt

  /** [[pqTopKPrecomputed]] with training folded in — the one-call form.
    * `coarseK < 0` (the default) auto-sizes by [[autoCoarseK]] — the
    * corpus count is one cheap job next to the Lloyd training passes.
    */
  def pqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, m: Int = 4, ksub: Int = 16, iters: Int = 3,
      coarseK: Int = -1, excludeSelf: Boolean = true): DataFrame =
    pqTopKPrecomputed(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, trainPqCodebooks(corpus, corpusId, corpusVec, m, ksub, iters),
      if (coarseK < 0) autoCoarseK(corpus.count()) else coarseK, excludeSelf)

  /** [[pqTopKPrecomputed]] over a PRE-MATERIALIZED code table: the coarse
    * subtree scans `(id, codes)` only — no float column anywhere in it,
    * so the 100 TB scan really is m×4 bytes per vector — and the
    * `coarseK` survivors per query join back to full-precision vectors
    * by id for the exact rerank (the candidate set is queries×coarseK
    * rows, broadcast into the vector table: the corpus never shuffles).
    */
  def pqTopKPrecoded(
      corpusCodes: DataFrame, codesId: String, codesCol: String,
      corpusVecs: DataFrame, vecsId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, codebooks: Array[Array[Array[Double]]], coarseK: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must cover k ($k)")
    val m = codebooks.length
    val ksub = codebooks(0).length
    val q = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__lut", graft.functions.expressions.NativeVectorFunctions
        .pqLut(col("__qvec").cast("array<double>"), codebooks)))
    val coarse = corpusCodes
      .select(col(codesId).as("__cid"), col(codesCol).as("__codes"))
      .crossJoin(q)
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("__qvec"),
        adcScore(col("__lut"), col("__codes"), m, ksub).as("adc"))
    adcRerankJoinBack(coarse, corpusVecs, vecsId, corpusVec, k, coarseK)
  }

  /** Shared ADC tail for the codes-only (precoded) paths: coarse cut by
    * (adc ASC, id ASC), then the candidate set — queries×coarseK rows —
    * broadcasts INTO the full-precision vector table by id for the exact
    * rerank; the corpus never shuffles.
    */
  private def adcRerankJoinBack(coarse: DataFrame,
      corpusVecs: DataFrame, vecsId: String, corpusVec: String,
      k: Int, coarseK: Int): DataFrame = {
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val candidates = coarse.withColumn("__crank", row_number().over(w1))
      .where(col("__crank") <= coarseK)
    broadcast(candidates)
      .join(corpusVecs.select(col(vecsId).as("__vid"), col(corpusVec).as("__cvec")),
        col("neighbor_id") === col("__vid"))
      .withColumn("cos", cosine(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 9).as("cos"), round(col("adc"), 9).as("adc"))
  }

  /** OPQ-lite training: PQ codebooks over PCA-ROTATED vectors (Ge et al.
    * CVPR'13 — PCA rotation is the classic approximation to the OPQ
    * rotation). Raw-coordinate PQ splits correlated dimensions across
    * subspaces, wasting codebook budget re-encoding shared variance;
    * rotating into decorrelated coordinates first lets each subspace's
    * ksub centroids spend their bits on independent structure. Rotation
    * preserves pairwise L2 (centering cancels in differences), so ADC
    * over rotated codes estimates the SAME distances — only better.
    * Both stages are fixed-point-trained ([[pcaFit]]'s Gram and
    * [[trainPqCodebooks]]'s Lloyd), so the whole index is
    * bit-reproducible under any partitioning (OpsSpec pin; no DuckDB
    * gate — re-deriving the Jacobi eigensolve in SQL is not practical,
    * the documented boundary the r14 training precedent set).
    * Returns (rotation model, codebooks over rotated coordinates).
    */
  def trainOpq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, ksub: Int = 16, iters: Int = 3,
      balance: Boolean = true)
      : (PcaModel, Array[Array[Array[Double]]]) = {
    val model0 = fitPca(corpus, vecCol, None)
    val d = model0.means.length
    require(d % m == 0, s"dim $d must divide into m=$m subspaces")
    // Eigenvalue-BALANCED subspace allocation (the FAISS parametric-OPQ
    // pre-processing, Ge et al. CVPR'13 §4): raw eigenvalue-desc row
    // order CONCENTRATES variance — on a low-rank corpus one subspace
    // holds the whole signal while the rest quantize noise, measured
    // 0.40 vs plain PQ's 0.64 recall@10 (AnnRecall `anisotropic`, r17).
    // Greedy: dims in eigenvalue order each land in the non-full
    // subspace with the smallest accumulated log-variance — every
    // subspace gets an equal share of the signal. Driver-side
    // permutation of the rotation rows; deterministic (ties resolve to
    // the lower bucket index). `balance = false` keeps the raw PCA
    // concentration (the measurement baseline).
    val model = if (!balance) model0 else balanceRotation(model0, m)
    val rotated = corpus.select(col(idCol).as("__id"),
      graft.functions.expressions.NativeVectorFunctions
        .rotate(col(vecCol).cast("array<double>"), model.means, model.components)
        .as("__r"))
    (model, trainPqCodebooks(rotated, "__id", "__r", m, ksub, iters))
  }

  /** The eigenvalue-balanced row permutation of a full-rank rotation for
    * an m-subspace PQ split (Ge et al. CVPR'13 §4's product-balancing
    * intent): dims in eigenvalue-desc order assign LEVEL BY LEVEL — only
    * the least-filled subspaces are candidates, and among them the one
    * with the smallest accumulated log-variance takes the next (largest
    * remaining) dim; ties to the lower bucket index. The level
    * constraint matters: an unconstrained min-log greedy DEGENERATES
    * when eigenvalues sit below 1 (logs are negative, so the bucket
    * holding noise dims keeps attracting every further dim and the
    * "balanced" split collapses back to contiguous eigenvalue blocks —
    * measured identical to the unbalanced rotation before the fix).
    * Pure driver-side reordering of the rotation rows; rotation
    * distances are unchanged (a permutation is an isometry), only WHERE
    * each rotated coordinate lands in the subspace split moves.
    */
  def balanceRotation(model: PcaModel, m: Int): PcaModel = {
    val d = model.components.length
    if (m <= 1) return model
    require(d % m == 0, s"rank $d must divide into m=$m subspaces")
    val sd = d / m
    val logs = Array.fill(m)(0.0)
    val cnt = Array.fill(m)(0)
    val slots = Array.fill(m)(scala.collection.mutable.ArrayBuffer[Int]())
    for (dim <- model.eigenvalues.indices) {
      // least-filled bucket first (the level constraint), then smallest
      // accumulated log, then lowest index — one deterministic minBy
      val j = (0 until m).filter(cnt(_) < sd)
        .minBy(b => (cnt(b), logs(b), b))
      slots(j) += dim
      cnt(j) += 1
      logs(j) += math.log(math.max(model.eigenvalues(dim), 1e-300))
    }
    val perm = slots.flatMap(_.toSeq)
    PcaModel(model.means,
      perm.map(model.components),
      perm.map(model.eigenvalues))
  }

  /** [[pqTopKPrecomputed]] with an OPQ rotation in front: codes and the
    * per-query LUT both compute over `y = R(x − mu)` (one fused codegen
    * projection — RotateExpr feeds PqCodesExpr/PqLutExpr), the coarse ADC
    * ranking therefore estimates the same L2 metric, and the exact rerank
    * scores ORIGINAL vectors (user-facing cosine is over the data's own
    * coordinates). Same plan shape, scan traffic, and `coarseK` sizing
    * rule ([[autoCoarseK]]) as plain PQ — the rotation only moves WHERE
    * the codebook budget goes.
    */
  def opqTopKPrecomputed(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, model: PcaModel, codebooks: Array[Array[Array[Double]]],
      coarseK: Int, excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must cover k ($k)")
    val m = codebooks.length
    val ksub = codebooks(0).length
    import graft.functions.expressions.{NativeVectorFunctions => NV}
    def rot(c: Column): Column =
      NV.rotate(c.cast("array<double>"), model.means, model.components)
    val c = corpus.select(col(corpusId).as("__cid"), col(corpusVec).as("__cvec"))
      .withColumn("__codes", NV.pqCodes(rot(col("__cvec")), codebooks))
    val q = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__lut", NV.pqLut(rot(col("__qvec")), codebooks)))
    val coarse = c.crossJoin(q)
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("__qvec"), col("__cvec"),
        adcScore(col("__lut"), col("__codes"), m, ksub).as("adc"))
    adcRerankCarried(coarse, k, coarseK)
  }

  /** [[trainOpq]] + [[opqTopKPrecomputed]] — the one-call form; `coarseK
    * < 0` auto-sizes by [[autoCoarseK]].
    */
  def opqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, m: Int = 4, ksub: Int = 16, iters: Int = 3,
      coarseK: Int = -1, excludeSelf: Boolean = true): DataFrame = {
    val (model, books) = trainOpq(corpus, corpusId, corpusVec, m, ksub, iters)
    opqTopKPrecomputed(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, model, books,
      if (coarseK < 0) autoCoarseK(corpus.count()) else coarseK, excludeSelf)
  }

  /** IVF-PQ index (the FAISS IVFADC workhorse, Jégou et al. 2011 §IV):
    * a coarse IVF quantizer partitions the corpus into inverted lists,
    * and each vector's RESIDUAL against its list centroid is
    * product-quantized — residuals are much smaller than raw vectors, so
    * the same codebook budget quantizes them far more precisely, which
    * is why the composition beats either index alone. Both trainers are
    * the fixed-point Lloyd, so the whole index is bit-reproducible under
    * any partitioning (and externally derivable — the q90 gate).
    * Returns (centroids, residual codebooks).
    */
  def trainIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, itersIvf: Int, m: Int, ksub: Int, itersPq: Int)
      : (Array[(Int, Array[Double])], Array[Array[Array[Double]]]) = {
    val cents = trainIvfCentroids(corpus, idCol, vecCol, nlist, itersIvf)
    (cents, trainResidualPqCodebooks(corpus, idCol, vecCol, cents, m, ksub, itersPq))
  }

  /** The residual-PQ half of [[trainIvfPq]] over an already-trained
    * centroid table — for callers probing several PQ geometries of one
    * coarse quantizer (AnnRecall), where re-training the deterministic
    * centroids would be pure waste.
    */
  def trainResidualPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Double])],
      m: Int, ksub: Int, itersPq: Int): Array[Array[Array[Double]]] = {
    val vec = col(vecCol).cast("array<double>")
    val resid = corpus.select(col(idCol).as("__id"),
      graft.functions.expressions.NativeVectorFunctions
        .residual(vec, nearestCentroid(vec, centroids), centroids).as("__r"))
    trainPqCodebooks(resid, "__id", "__r", m, ksub, itersPq)
  }

  /** IVF-PQ approximate top-k: each query probes its `nprobe` nearest
    * lists; within a probed list, candidates are scored by ADC over the
    * RESIDUAL codes against a per-(query, list) LUT (the query's residual
    * against THAT list's centroid — computed once per probe pair on the
    * broadcast side, never per candidate); `coarseK` smallest ADC
    * distances per query are reranked by exact cosine. The probe join
    * broadcasts queries×nprobe rows — the corpus never shuffles before
    * the per-query windows. NOTE this convenience path derives codes
    * from (and carries) the float vectors, so its coarse stage still
    * reads and ships full-precision data; the codes-only scan that
    * delivers the 4+m×4-bytes-per-vector property at 100 TB is the
    * [[pqTopKPrecoded]] pattern (materialize `(id, list, codes)`,
    * join candidates back by id), applicable here identically.
    *
    * Determinism: both quantizers are fixed-point-trained; residuals are
    * componentwise IEEE subtractions; LUT folds and the ADC association
    * are fixed — the TRAINED approximate selection is oracle-checkable
    * end-to-end (q90). Size `coarseK` by [[autoCoarseK]]'s rule; fixed
    * values decay under corpus growth.
    */
  def ivfPqTopKPrecomputed(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, centroids: Array[(Int, Array[Double])],
      codebooks: Array[Array[Array[Double]]], nprobe: Int, coarseK: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must cover k ($k)")
    val m = codebooks.length
    val ksub = codebooks(0).length
    import graft.functions.expressions.{NativeVectorFunctions => NV}
    val cv = col("__cvec").cast("array<double>")
    val c = corpus.select(col(corpusId).as("__cid"), col(corpusVec).as("__cvec"))
      .withColumn("__list", nearestCentroid(cv, centroids))
      .withColumn("__codes",
        NV.pqCodes(NV.residual(cv, col("__list"), centroids), codebooks))
    val qv = col("__qvec").cast("array<double>")
    val q = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__list", explode(nearestCentroids(qv, centroids, nprobe)))
      .withColumn("__lut",
        NV.pqLut(NV.residual(qv, col("__list"), centroids), codebooks)))
    val coarse = c.join(q, "__list")
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("__qvec"), col("__cvec"),
        adcScore(col("__lut"), col("__codes"), m, ksub).as("adc"))
    adcRerankCarried(coarse, k, coarseK)
  }

  /** Build the materialized IVF-PQ index: one `(id, list, codes)` row
    * per vector — 4 + m×4 bytes against dim×8. Persist THIS table;
    * [[ivfPqTopKPrecoded]]'s coarse stage then never touches
    * full-precision data, and the probed fraction bounds the scan.
    */
  def materializeIvfPqCodes(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Double])],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import graft.functions.expressions.{NativeVectorFunctions => NV}
    val vec = col(vecCol).cast("array<double>")
    df.select(col(idCol), col(vecCol))
      .withColumn("list", nearestCentroid(vec, centroids))
      .withColumn("codes", NV.pqCodes(
        NV.residual(vec, col("list"), centroids), codebooks))
      .select(col(idCol), col("list"), col("codes"))
  }

  /** [[ivfPqTopKPrecomputed]] over a PRE-MATERIALIZED `(id, list,
    * codes)` table — the production shape: the coarse subtree scans the
    * compact index only (no float column anywhere in it), the probe
    * equi-join touches just the probed lists, and the `coarseK`
    * survivors per query broadcast into the full-precision vector table
    * by id for the exact rerank. Identical results to the
    * derive-on-the-fly overload (OpsSpec law).
    */
  def ivfPqTopKPrecoded(
      corpusCodes: DataFrame, codesId: String, listCol: String, codesCol: String,
      corpusVecs: DataFrame, vecsId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, centroids: Array[(Int, Array[Double])],
      codebooks: Array[Array[Array[Double]]], nprobe: Int, coarseK: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must cover k ($k)")
    val m = codebooks.length
    val ksub = codebooks(0).length
    import graft.functions.expressions.{NativeVectorFunctions => NV}
    val qv = col("__qvec").cast("array<double>")
    val q = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__list", explode(nearestCentroids(qv, centroids, nprobe)))
      .withColumn("__lut", NV.pqLut(NV.residual(qv, col("__list"), centroids),
        codebooks)))
    val coarse = corpusCodes
      .select(col(codesId).as("__cid"), col(listCol).as("__list"),
        col(codesCol).as("__codes"))
      .join(q, "__list")
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("__qvec"),
        adcScore(col("__lut"), col("__codes"), m, ksub).as("adc"))
    adcRerankJoinBack(coarse, corpusVecs, vecsId, corpusVec, k, coarseK)
  }

  /** [[ivfPqTopKPrecomputed]] with training folded in — the one-call
    * form. `coarseK < 0` (the default) auto-sizes by [[autoCoarseK]]
    * (fixed defaults decay under corpus growth — see the sizing note
    * there; the IVF-PQ decay measured 0.476→0.233 recall@10 from 2k to
    * 128k vectors at fixed 64).
    */
  def ivfPqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 4, ksub: Int = 16,
      itersIvf: Int = 3, itersPq: Int = 3, coarseK: Int = -1,
      excludeSelf: Boolean = true): DataFrame = {
    val (cents, books) = trainIvfPq(corpus, corpusId, corpusVec,
      nlist, itersIvf, m, ksub, itersPq)
    ivfPqTopKPrecomputed(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k, cents, books, nprobe,
      if (coarseK < 0) autoCoarseK(corpus.count()) else coarseK, excludeSelf)
  }

  /** Two-stage retrieval: an int8 coarse scan reranked by exact float
    * cosine — the SQ8 "scan small codes, rerank few floats" pattern
    * (FAISS's SQ index family): stage 1 streams the QUANTIZED corpus
    * (4× less memory traffic, which at 100 TB-scale vector stores IS
    * the scan bottleneck) and keeps `coarseK` candidates per query by
    * code-space cosine; stage 2 re-scores only those candidates against
    * the full-precision vectors. `coarseK >=` corpus size degenerates to
    * [[bruteForceTopK]]'s exact ranking.
    *
    * Determinism: the coarse score is the cosine of the int8 CODE
    * vectors — every sum is an exact small integer, so the score is
    * bit-identical across engines and partitions (no accumulation-order
    * dependence), making even the APPROXIMATE configuration
    * oracle-checkable. Plan shape mirrors [[bruteForceTopK]]: queries
    * broadcast, the corpus never shuffles until the per-query top-k
    * windows (coarse first — the rerank window sees `coarseK` rows per
    * query, not the corpus).
    *
    * This overload derives codes from the float vectors per call — the
    * convenience path, whose stage-1 scan still reads full-precision
    * data. The production shape is [[materializeInt8Codes]] once +
    * [[rerankTopKPrecoded]] per query batch: only THAT delivers the 4×
    * scan-traffic saving.
    */
  def rerankTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, coarseK: Int, excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must cover k ($k)")
    def coded(df: DataFrame, id: String, vec: String, p: String): DataFrame =
      df.select(col(id).as(s"${p}id"), col(vec).as(s"${p}vec"))
        .withColumn(s"${p}s", int8Scale(col(s"${p}vec")))
        .withColumn(s"${p}q",
          quantizeInt8(col(s"${p}vec"), col(s"${p}s")).cast("array<double>"))
        .drop(s"${p}s")
    val c = coded(corpus, corpusId, corpusVec, "__c")
    val q = broadcast(coded(queries, queryId, queryVec, "__q"))
    val coarse = c.crossJoin(q)
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("__qvec"), col("__cvec"),
        cosine(col("__qq"), col("__cq")).as("coarse"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id").asc)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    coarse.withColumn("__crank", row_number().over(w1))
      .where(col("__crank") <= coarseK)
      .withColumn("cos", cosine(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 9).as("cos"), round(col("coarse"), 9).as("coarse"))
  }

  /** Build the materialized SQ8 index for [[rerankTopKPrecoded]]: one
    * `(id, codes array<tinyint>)` row per vector — 4× smaller than the
    * float column, which is the entire point: persist THIS table and the
    * coarse scan never touches full-precision data again. Pure
    * projection, no shuffle; write it bucketed by id if the rerank join
    * should also be shuffle-free.
    */
  def materializeInt8Codes(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol))
      .withColumn("__s", int8Scale(col(vecCol)))
      .select(col(idCol), quantizeInt8(col(vecCol), col("__s")).as("codes"))

  /** [[rerankTopK]] over a PRE-MATERIALIZED code table: stage 1 scans
    * `corpusCodes` (id + int8 codes — no float column anywhere in the
    * coarse subtree, so the scan traffic really is 4× lower; PlanSpec
    * audits it), stage 2 joins the `coarseK` survivors per query back to
    * the full-precision vectors by id and re-scores exactly. Identical
    * results to the derive-on-the-fly [[rerankTopK]] by the shared
    * quantizer (OpsSpec law) — the split buys the scan saving at the
    * price of one id-join on the tiny candidate set.
    */
  def rerankTopKPrecoded(
      corpusCodes: DataFrame, codesId: String, codesCol: String,
      corpusVecs: DataFrame, vecsId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, coarseK: Int, excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must cover k ($k)")
    val q = broadcast(queries
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__qs", int8Scale(col("__qvec")))
      .withColumn("__qq", quantizeInt8(col("__qvec"), col("__qs")).cast("array<double>"))
      .drop("__qs"))
    val coarse = corpusCodes
      .select(col(codesId).as("__cid"), col(codesCol).cast("array<double>").as("__cq"))
      .crossJoin(q)
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("__qvec"), cosine(col("__qq"), col("__cq")).as("coarse"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id").asc)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    coarse.withColumn("__crank", row_number().over(w1))
      .where(col("__crank") <= coarseK)
      .join(corpusVecs.select(col(vecsId).as("__vid"), col(corpusVec).as("__cvec")),
        col("neighbor_id") === col("__vid"))
      .withColumn("cos", cosine(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 9).as("cos"), round(col("coarse"), 9).as("coarse"))
  }

  /** Semantic-duplicate candidate pairs, SemDeDup style (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-cluster the embeddings,
    * then compare pairs WITHIN each cluster only — the pair space shrinks
    * from n² to Σ|cluster|², the paper's core scaling trick. `nlist <= 1`
    * degenerates to the exhaustive all-pairs comparison (the oracle
    * configuration; recall gates compare against it).
    */
  def semDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 64, iters: Int = 3): DataFrame = {
    // persisted: both sides of the within-cluster self-join consume the
    // assignment frame, and Spark does not reuse the self-join's
    // exchanges — unpersisted, the centroid-assignment pass (nlist×dim
    // distances per vector) would run twice
    val assigned = (
      if (nlist <= 1)
        df.select(lit(0).as("__list"), col(idCol).as("id"), col(vecCol).as("v"))
      else {
        val centroids = trainIvfCentroids(df, idCol, vecCol, nlist, iters)
        df.select(col(idCol).as("id"), col(vecCol).as("v"))
          .withColumn("__list", nearestCentroid(col("v").cast("array<double>"), centroids))
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = assigned.select(col("__list"), col("id").as("id_a"), col("v").as("v_a"))
    val r = assigned.select(col("__list"), col("id").as("id_b"), col("v").as("v_b"))
    // the exhaustive config's join key is a constant — an equi-join would
    // hash every row into ONE partition (a single-task quadratic);
    // broadcast one side and keep the other partition-parallel instead
    val joined =
      if (nlist <= 1) l.crossJoin(broadcast(r.drop("__list")))
      else l.join(r, Seq("__list"))
    joined
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup resolution: cluster-scoped cosine pairs resolved into
    * duplicate groups (min-label connected components, the same
    * O(edges)-per-round propagation the text path uses); each group keeps
    * its smallest id. Returns (id, rep, keep) — `keep = 1` iff the row is
    * its group's canonical representative.
    *
    * 100 TB shape: the within-cluster self-join is bounded by the largest
    * cluster (raise `nlist` until Σ|c|² fits); everything else is
    * projection + the O(edges) resolution.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 64, iters: Int = 3): DataFrame = {
    val pairs = semDupPairs(df, idCol, vecCol, threshold, nlist, iters)
    Dedup.nearDupClusters(df.select(col(idCol)), idCol, pairs)
      .select(col("id"), col("rep"),
        (col("id") === col("rep")).cast("int").as("keep"))
  }

  /** Embedding near-duplicate pairs: LSH-bucketed candidate generation +
    * exact cosine verification (id_a < id_b).
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 6): DataFrame = {
    // persisted: the bucket self-join's two sides share this frame (no
    // exchange reuse on self-joins) — the LSH projection runs once
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__bucket", lshBucket(col("v"), numPlanes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = b.select(col("__bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val r = b.select(col("__bucket"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, "__bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 9).as("cos"))
  }
}

/** The fixed-point arithmetic of [[Similarity]]'s bit-reproducible folds
  * (the Lloyd rounds and the PCA Gram). Top-level, so the fold closures
  * call it statically rather than capturing the `Similarity` module.
  */
private[ops] object FixedPoint {

  /** The grid: values are quantized to 2⁻²⁴ before they are summed as Longs. */
  val Scale = 16777216.0d // 2^24

  /** `x` on the grid, `floor(x·2²⁴ + 0.5)` — the one quantizer of the
    * folds. NaN and Inf fail loudly, naming the embedding dimension:
    * `floor(NaN).toLong` is 0, so they would otherwise train a silently
    * skewed model.
    */
  def quantize(x: Double, dim: Int): Long = {
    require(!x.isNaN && !x.isInfinite, s"non-finite embedding component at dim $dim")
    math.floor(x * Scale + 0.5d).toLong
  }

  /** Element-wise `a += b`: the combine step of the folds. */
  def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
