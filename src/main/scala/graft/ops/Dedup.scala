package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design: exact dedup is one hash aggregation (map-side partial);
  * MinHash/LSH is the standard shingle → minhash → band → bucket-join
  * pipeline — per-row narrow work, one explode (×bands), one shuffle on
  * band key, and a candidate-verification join that touches only bucket
  * collisions, never the O(n²) pair space.
  *
  * Cache contract: ops that persist a shared intermediate (the plans read
  * it more than once) keep it cached until the CALLER unpersists —
  * CacheManager entries are not reclaimed by the ContextCleaner. One-shot
  * queries: run one action, then `spark.catalog.clearCache()` (or hold
  * and `unpersist()` the returned frame's caches). Per-micro-batch loops
  * must use [[Dedup.incrementalKeep]], which materializes eagerly and
  * releases its own caches every batch. [[Dedup.nearDupClusters]]
  * consumes its pair plan inside the call, so a caller holding the
  * plan's signature frame ([[Dedup.minhashLshPairsTracked]]) unpersists
  * it as soon as the clusters are returned; q45 does.
  */
object Dedup {

  /** Word n-gram shingles (distinct) of normalized text — native
    * single-pass expression (the composed transform-over-slices version
    * re-evaluates normalization per shingle position under projection
    * collapse: O(tokens²) regex work per row).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.expressions.NativeHashFunctions.shingles(text, n)

  /** Exact dedup: group identical keys, keep the smallest id. Returns
    * (key columns, keep_id, n_dups). One hash aggregation.
    */
  def exact(df: DataFrame, keyCol: Column, idCol: Column): DataFrame =
    df.groupBy(keyCol.as("key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: `numHashes` permutation minima over shingles —
    * native single-pass expression (each shingle hashed once, permutations
    * derived by splitmix64 mixing; ~15x the composed-HOF formulation).
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.expressions.NativeHashFunctions.minhashSignature(sh, numHashes)

  /** MinHash+LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * @param df       input
    * @param idCol    unique document id column name
    * @param textCol  text column name
    * @param threshold verified Jaccard threshold
    * @param bands    number of LSH bands
    * @param rowsPerBand minhashes per band. Detection prob of a pair with
    *                 similarity J is 1-(1-J^r)^b: b=24, r=3 gives ~0.997 at
    *                 J=0.6 and 1-4e-8 at J=0.8, while J=0.2 collisions stay
    *                 rare (~17%, and those die in the signature prefilter).
    *                 The exact-verify step removes false positives, so b
    *                 only trades candidate volume against recall.
    * @return (id_a, id_b, jaccard) with id_a < id_b
    *
    * Cache contract: the returned plan reads a persisted per-doc
    * signature frame that lives until the caller unpersists (one
    * action, then `spark.catalog.clearCache()` — or use
    * [[incrementalKeep]], which releases its own caches per batch).
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, bands: Int = 24, rowsPerBand: Int = 3,
      shingleSize: Int = 3): DataFrame =
    minhashLshPairsTracked(df, idCol, textCol, threshold, bands, rowsPerBand,
      shingleSize)._1

  /** The signature-estimated Jaccard prefilter shared by every LSH pair
    * generator: matching-minhash fraction concentrates around the true J
    * (std ~ sqrt(J(1−J)/numHashes)), so a generous margin kills low-J
    * bucket collisions before the expensive exact verification ever sees
    * them. Input must carry (id_a, sig_a, id_b, sig_b); ONE definition so
    * the margin can never diverge across the intra/cross/artifact paths.
    */
  private def estPrefilter(cands: DataFrame, numHashes: Int,
      threshold: Double): DataFrame = cands
    .dropDuplicates("id_a", "id_b")
    .withColumn("est",
      size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
        b => b)).cast("double") / numHashes)
    .where(col("est") >= threshold * 0.6)
    .select("id_a", "id_b")

  /** [[minhashLshPairs]] plus the handle of the persisted signature frame,
    * so a caller that materializes the pairs can unpersist it afterwards.
    */
  private[graft] def minhashLshPairsTracked(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, bands: Int = 24, rowsPerBand: Int = 3,
      shingleSize: Int = 3): (DataFrame, DataFrame) = {
    val numHashes = bands * rowsPerBand

    // The whole MinHash front end (shingle -> signature -> band hashes) is
    // ONE native expression, materialized through a generator (explode of
    // a 1-element array) so projection collapse cannot re-evaluate it per
    // consumer — each document is normalized/shingled/hashed exactly once.
    // Only (id, sig) ride through the bucket join — signatures are
    // fixed-size (numHashes longs), so shuffle bytes stay bounded no
    // matter how long the documents are.
    // Persisted per-doc (Spark does NOT reuse the self-join's exchanges —
    // the two sides' alias projections defeat canonicalization — so an
    // unpersisted plan runs the minhash kernel over the corpus TWICE);
    // the cache is one fixed-size row per document, the cheap band
    // posexplode re-runs per side from it.
    val sigs = df
      .select(col(idCol).as("id"),
        explode(array(graft.functions.expressions.NativeHashFunctions
          .minhash(col(textCol), bands, rowsPerBand, shingleSize))).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs
      .select(col("id"), col("m.sig").as("sig"), posexplode(col("m.bands")))
      .toDF("id", "sig", "band", "bucket")

    // candidates: ids sharing any (band, bucket)
    val left = banded.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val right = banded.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    val estimated = estPrefilter(
      left.join(right, Seq("band", "bucket")).where(col("id_a") < col("id_b")),
      numHashes, threshold)

    (verifyJaccardPairs(
      df.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh")),
      estimated, threshold), sigs)
  }

  /** Incremental near-dedup: MinHash+LSH pairs of a DELTA batch against
    * an already-kept BASE corpus — the production shape for continuously
    * ingested corpora, where re-deduplicating the full corpus per batch
    * is impossible: each new batch is checked against the kept set (and
    * against itself via [[minhashLshPairs]]). Returns `(delta_id,
    * base_id, jaccard)` for every cross pair with verified Jaccard >=
    * `threshold`; a delta document with no row is novel w.r.t. the base.
    * Ids must be unique ACROSS both tables (corpus-global ids — the
    * verification join keys on them).
    *
    * Scale shape: identical to [[minhashLshPairs]] — both sides band
    * once (fixed-size signatures, never raw text, through the join); at
    * steady state the base's banded signature table is a materialized
    * artifact refreshed per batch, so the per-batch cost is
    * O(delta × bands) plus bucket collisions, never O(base).
    */
  def minhashLshPairsAgainst(
      delta: DataFrame, deltaIdCol: String,
      base: DataFrame, baseIdCol: String, textCol: String,
      threshold: Double = 0.6, bands: Int = 24, rowsPerBand: Int = 3,
      shingleSize: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    def banded(df: DataFrame, idCol: String, side: String): DataFrame =
      bandedSignatures(df, idCol, textCol, bands, rowsPerBand, shingleSize)
        .select(col("id").as(s"id_$side"), col("sig").as(s"sig_$side"),
          col("band"), col("bucket"))
    val candidates = estPrefilter(
      banded(delta, deltaIdCol, "a")
        .join(banded(base, baseIdCol, "b"), Seq("band", "bucket")),
      numHashes, threshold)
    // side-tagged shingle table: a delta doc id that collides with a
    // base doc id (two ingestion namespaces) must not have the verify
    // pick an arbitrary shingle array for the pair — each pair side
    // resolves against its OWN table's rows
    val shTable = delta.select(col(deltaIdCol).as("id"), lit("a").as("__side"),
        shingles(col(textCol), shingleSize).as("sh"))
      .unionByName(base.select(col(baseIdCol).as("id"), lit("b").as("__side"),
        shingles(col(textCol), shingleSize).as("sh")))
    verifyJaccardPairsSided(shTable, candidates, sideB = "b", threshold)
      .withColumnRenamed("id_a", "delta_id")
      .withColumnRenamed("id_b", "base_id")
  }

  /** The banded minhash signature table — the MATERIALIZED artifact the
    * steady-state incremental dedup maintains instead of re-signaturing
    * the whole base per batch: one `(id, sig, band, bucket)` row per
    * (document, band). Persist/checkpoint this and append each kept
    * batch's rows; [[incrementalKeepWithSignatures]] then spends
    * signature/shingle CPU only on the delta and the candidate pairs.
    * NOTE the scan-I/O caveat: the bucket join still READS the whole
    * artifact per batch (and the verify semi-join reads the base text
    * column) unless the artifact is written bucketed/partitioned by
    * (band, bucket) and the base by id, which is what a 100 TB
    * deployment should do — the saving this API itself delivers is the
    * kernel CPU (normalize + shingle + numHashes-minhash per document),
    * the dominant per-row cost.
    */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 24, rowsPerBand: Int = 3, shingleSize: Int = 3): DataFrame = df
    .select(col(idCol).as("id"),
      explode(array(graft.functions.expressions.NativeHashFunctions
        .minhash(col(textCol), bands, rowsPerBand, shingleSize))).as("m"))
    .select(col("id"), col("m.sig").as("sig"), posexplode(col("m.bands")))
    .toDF("id", "sig", "band", "bucket")

  /** Write the steady-state dedup base as PRUNABLE parquet artifacts —
    * the layout [[bandedSignatures]]' I/O caveat calls for:
    * `<dir>/base_text` range-partitioned AND sorted by id (so the
    * verify's candidate-id filter skips files and row groups on parquet
    * min/max stats — enable it with `pruneBaseIds = true` on
    * [[incrementalKeepWithSignatures]]), and `<dir>/base_sigs`
    * range-partitioned and sorted by (band, bucket) (clustered bucket
    * runs: the per-batch bucket join reads runs, and a co-bucketed
    * 100 TB deployment makes it shuffle-free). Appending a kept batch =
    * appending its rows with the same writer over the new rows only
    * (range layout degrades gracefully; re-compact on cadence like the
    * MOR sink).
    */
  def writeBaseArtifacts(base: DataFrame, idCol: String, textCol: String,
      baseSigs: DataFrame, dir: String, rowsPerFile: Int = 20000): Unit = {
    val n = base.count()
    val textParts = math.max(1, (n / math.max(1, rowsPerFile)).toInt)
    base.repartitionByRange(textParts, col(idCol))
      .sortWithinPartitions(idCol)
      .write.mode("overwrite").parquet(s"$dir/base_text")
    // sig rows = docs x bands — counted from the artifact itself, not a
    // hardcoded band count (the caller may have banded with any `bands`)
    val sigRows = baseSigs.count()
    val sigParts = math.max(1, (sigRows / math.max(1, rowsPerFile.toLong * 4)).toInt)
    baseSigs.repartitionByRange(sigParts, col("band"), col("bucket"))
      .sortWithinPartitions("band", "bucket")
      .write.mode("overwrite").parquet(s"$dir/base_sigs")
  }

  /** [[incrementalKeep]] over a PRE-MATERIALIZED base signature table —
    * the steady-state shape: the base is never re-signatured (the bucket
    * join reads `baseSigs` as-is, validated in-plan against the call's
    * numHashes — a mismatched artifact raises instead of silently
    * depressing the prefilter), the DELTA is minhashed exactly once
    * (intra-batch pairs band from the same `deltaSigs` frame the cross
    * check uses), and exact-Jaccard verification shingles ONLY the rows
    * named by candidate pairs (id semi-join BELOW the shingle
    * projection — the shingle CPU is candidates-sized; the semi-join
    * still SCANS the base text column unless `pruneBaseIds = true` over
    * a [[writeBaseArtifacts]] id-sorted base, which pushes the candidate
    * ids down as an In filter and skips non-candidate files/row groups).
    * Requires ids GLOBALLY UNIQUE per document across batch and base
    * namespaces for the returned pair ids to be unambiguous (the verify
    * itself is side-tagged and survives collisions). Returns (kept rows, kept
    * rows' banded signatures — sliced from the delta's, never
    * recomputed) for the caller to append to its artifacts. Output rows
    * are IDENTICAL to [[incrementalKeep]]'s (OpsSpec law).
    */
  def incrementalKeepWithSignatures(
      batch: DataFrame, idCol: String,
      base: DataFrame, baseIdCol: String, textCol: String,
      baseSigs: DataFrame,
      threshold: Double = 0.6, bands: Int = 24, rowsPerBand: Int = 3,
      shingleSize: Int = 3, pruneBaseIds: Boolean = false): (DataFrame, DataFrame) = {
    val numHashes = bands * rowsPerBand
    // caller-supplied artifact: select BY NAME (a reordered column set
    // must not silently bind band-values to "bucket") and guard the
    // stored signature length in-plan (an artifact built with different
    // bands×rowsPerBand would depress `est` and silently keep dups)
    val baseSide = baseSigs.select(
      col("id").as("id_b"),
      when(size(col("sig")) === numHashes, col("sig"))
        .otherwise(raise_error(concat(
          lit(s"baseSigs signature length != $numHashes (bands x rowsPerBand"
            + " of this call) — got "),
          size(col("sig")).cast("string")))).as("sig_b"),
      col("band"), col("bucket"))
    val deltaSigs = bandedSignatures(batch, idCol, textCol,
      bands, rowsPerBand, shingleSize)
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += p; p
    }
    try {
      // ONE minhash pass over the batch: both the cross-base candidates
      // and the intra-batch candidates band from this persisted frame
      val ds = persist(deltaSigs)
      val cross = persist(estPrefilter(
        ds.select(col("id").as("id_a"), col("sig").as("sig_a"),
            col("band"), col("bucket"))
          .join(baseSide, Seq("band", "bucket")),
        numHashes, threshold))
      val intraCands = persist(estPrefilter(
        ds.select(col("band"), col("bucket"),
            col("id").as("id_a"), col("sig").as("sig_a"))
          .join(ds.select(col("band"), col("bucket"),
            col("id").as("id_b"), col("sig").as("sig_b")), Seq("band", "bucket"))
          .where(col("id_a") < col("id_b")),
        numHashes, threshold))
      // ONE candidate-only shingle table feeds BOTH verifications
      val batchCandIds = cross.select(col("id_a").as(idCol))
        .unionByName(intraCands.select(col("id_a").as(idCol)))
        .unionByName(intraCands.select(col("id_b").as(idCol)))
        .distinct()
      // candidate base rows: a semi-join by default; with pruneBaseIds
      // the candidate ids collect to the driver (bounded by the
      // persisted cross-candidate count — capped below) and push down as
      // an In filter, so an id-sorted parquet base ([[writeBaseArtifacts]])
      // skips files and row groups on min/max stats instead of scanning
      // the whole text column per batch
      val candBaseIds = cross.select(col("id_b").as(baseIdCol)).distinct()
      val baseCand =
        if (pruneBaseIds) {
          // count first, NOT limit().collect(): a limit on the persisted
          // candidate frame runs Spark's incremental partial execution,
          // which materializes (and caches) only some partitions — the
          // expensive bucket join would then re-run for the rest
          val n = candBaseIds.count()
          if (n > 100000)
            // candidate set too large for a driver-side filter — the
            // semi-join plan is the right one at this density anyway
            base.join(candBaseIds, Seq(baseIdCol))
          else if (n == 0) base.where(lit(false))
          else base.where(col(baseIdCol)
            .isInCollection(candBaseIds.collect().map(_.get(0)).toSeq))
        } else base.join(candBaseIds, Seq(baseIdCol))
      // side-tagged ("a" = batch, "b" = base): ids colliding across the
      // two namespaces must not cross-contaminate the Jaccard verify
      val shTable = persist(batch
        .join(batchCandIds, Seq(idCol))
        .select(col(idCol).as("id"), lit("a").as("__side"),
          shingles(col(textCol), shingleSize).as("sh"))
        .unionByName(baseCand
          .select(col(baseIdCol).as("id"), lit("b").as("__side"),
            shingles(col(textCol), shingleSize).as("sh"))))
      val vsBase = verifyJaccardPairsSided(shTable, cross, sideB = "b", threshold)
        .select(col("id_a").as("__drop"))
      val intraPairs = verifyJaccardPairsSided(shTable, intraCands, sideB = "a", threshold)
      val intra = nearDupClusters(batch.select(col(idCol)), idCol, intraPairs)
        .where(col("id") =!= col("rep"))
        .select(col("id").as("__drop"))
      val kept = batch.join(vsBase.unionByName(intra).distinct(),
          batch(idCol) === col("__drop"), "left_anti")
        .localCheckpoint(true)
      // kept signatures = the delta's, filtered — never re-minhashed
      val keptSigs = ds
        .join(kept.select(col(idCol).as("id")), Seq("id"))
        .localCheckpoint(true)
      (kept, keptSigs)
    } finally {
      // unpersist EVERYTHING registered, even on an analysis error from
      // caller-supplied inputs — a retrying ingest loop must not grow
      // CacheManager entries without bound
      persisted.foreach(_.unpersist(false))
      ()
    }
  }

  /** One ingest step of the incremental dedup pipeline: of a new batch,
    * keep the documents that are (a) their intra-batch near-dup
    * component's representative (smallest id — [[nearDupClusters]] over
    * [[minhashLshPairs]]) AND (b) not a near-duplicate of any BASE
    * document ([[minhashLshPairsAgainst]]). The returned frame is the
    * batch's kept rows — exactly what appends to the base for the next
    * step, so `base ∪ keep` stays near-dup-free under the greedy
    * smallest-id-wins policy. Deterministic: reruns of a batch keep the
    * same rows.
    *
    * Note the conservative edge: a batch doc whose only near-dups are
    * batch docs that themselves died against the base is still dropped
    * (its component had a representative; near-duplicate content entered
    * the corpus earlier). This is strictly MORE aggressive than
    * sequential one-doc-at-a-time greedy ingestion: sequential greedy
    * would keep doc B when its only intra-batch near-dup A (smaller id)
    * died against the base and B itself matches no base doc — here B's
    * component representative existed, so B drops. The policy trades
    * that edge for batch-parallel determinism; OpsSpec pins it.
    *
    * Cache discipline (the per-batch contract): the kept frame is
    * EAGERLY materialized (localCheckpoint) and every cache this call
    * registered is unpersisted before returning — a Structured Streaming
    * loop calling this per micro-batch holds ONE batch's blocks, not an
    * unbounded cache trail (local checkpoint blocks are reclaimed by the
    * ContextCleaner once the returned frame is dereferenced; CacheManager
    * entries are not, hence the explicit unpersist).
    */
  def incrementalKeep(
      batch: DataFrame, idCol: String,
      base: DataFrame, baseIdCol: String, textCol: String,
      threshold: Double = 0.6, bands: Int = 24, rowsPerBand: Int = 3,
      shingleSize: Int = 3): DataFrame = {
    val vsBase = minhashLshPairsAgainst(batch, idCol, base, baseIdCol, textCol,
      threshold, bands, rowsPerBand, shingleSize)
      .select(col("delta_id").as("__drop"))
    val (intraPairs, sigs) = minhashLshPairsTracked(batch, idCol, textCol,
      threshold, bands, rowsPerBand, shingleSize)
    try {
      val intra = nearDupClusters(batch.select(col(idCol)), idCol, intraPairs)
        .where(col("id") =!= col("rep"))
        .select(col("id").as("__drop"))
      batch.join(vsBase.unionByName(intra).distinct(),
          batch(idCol) === col("__drop"), "left_anti")
        .localCheckpoint(true)
    } finally { sigs.unpersist(false); () }
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs. Pairs
    * melt to (pair, id) rows and join the shingle table ONCE (one full
    * shingle pass — joining it twice, per side, would run the pass
    * twice); the per-pair regroup shuffles candidate shingle sets only, a
    * vanishing fraction of the corpus.
    */
  private def verifyJaccardPairs(shTable: DataFrame,
      candidates: DataFrame, threshold: Double): DataFrame =
    // the sided kernel with one constant side IS the untagged verify —
    // one body to keep correct, not two near-copies
    verifyJaccardPairsSided(shTable.withColumn("__side", lit("a")),
      candidates, sideB = "a", threshold)

  /** [[verifyJaccardPairs]] over a SIDE-TAGGED shingle table (`id`,
    * `__side`, `sh`): pair side `id_a` always resolves against side "a"
    * rows, `id_b` against `sideB` ("b" for cross-table pairs, "a" for
    * intra-batch pairs) — so an id that exists in BOTH tables (delta and
    * base drawn from different ingestion namespaces) still verifies each
    * pair side against the right document, where the untagged join would
    * have max() pick an arbitrary one.
    */
  private def verifyJaccardPairsSided(shTable: DataFrame,
      candidates: DataFrame, sideB: String, threshold: Double): DataFrame = {
    val melted = candidates
      .select(struct(col("id_a"), col("id_b")).as("pair"))
      .select(col("pair"), explode(array(
        struct(col("pair.id_a").as("id"), lit("a").as("__side")),
        struct(col("pair.id_b").as("id"), lit(sideB).as("__side")))).as("m"))
      .select(col("pair"), col("m.id").as("id"), col("m.__side").as("__side"))
    melted.join(shTable, Seq("id", "__side"))
      .groupBy(col("pair"))
      .agg(
        max(when(col("id") === col("pair.id_a") && col("__side") === "a",
          col("sh"))).as("sh_a"),
        max(when(col("id") === col("pair.id_b") && col("__side") === sideB,
          col("sh"))).as("sh_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard similarity join via document-frequency prefix
    * filtering (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao
    * et al. WWW'08): returns every pair with Jaccard >= threshold, with
    * no probabilistic recall loss (the alternative to [[minhashLshPairs]]
    * when missing even 0.3% of pairs is unacceptable).
    *
    * Prefix filter: order every document's gram set by GLOBAL document
    * frequency (rarest first, gram text as tie-break — any total order
    * works, rare-first minimizes candidates). If J(A,B) >= t then
    * |A∩B| >= ceil(t·max(|A|,|B|)) =: α, and two sets overlapping by α
    * must share a gram within their (|s|-α+1)-prefixes — so an equi-join
    * on prefix grams finds every qualifying pair. Each side uses its own
    * α_s = ceil(t·|s|) >= ... <= α bound, giving a slightly longer, still
    * sound prefix.
    *
    * Scale shape: one gram-keyed shuffle for document frequencies, one
    * id-keyed shuffle to assemble sorted prefixes, one equi-join on
    * PREFIX grams only. Prefix grams are the globally RAREST grams of
    * each document, so join buckets stay small by construction — the
    * stop-gram hot keys that would blow up a naive gram join never enter
    * the prefix. A size-ratio filter (min >= t·max) prunes candidates
    * before the exact verify.
    */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, shingleSize: Int = 3): DataFrame = {
    // three consumers read the shingle sets (document frequencies, the
    // prefix build, exact verification): persist the per-document arrays
    // so the corpus is normalized + shingled ONCE (same eviction-safe
    // session-owned cache as TextAnalysis.termFrequencies)
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sh.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("g"))
    val dfreq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    // ceil(t·sz) with an epsilon: 0.6*5 is 3.0000000000000004 in binary —
    // a bare ceil would shorten the prefix below the sound length
    val alpha = ceil(col("sz") * threshold - lit(1e-9))
    // prefix grams with their 0-based position in the document's full
    // frequency-sorted gram list (prefix = the first elements, so the
    // in-prefix position IS the global position)
    // both join sides read the prefix table: persisted, or the whole
    // prefix build (shingle explode, document-frequency aggregation, the
    // collect_list sort) runs once PER SIDE — self-join exchanges are not
    // reused across per-side alias projections (NOTES, the r8 rule; the
    // r18 plan audit showed the subtree duplicated)
    val prefix = exploded.join(dfreq, "g")
      .groupBy(col("id"), col("sz"))
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("ordered"))
      .select(col("id"), col("sz"),
        posexplode(slice(col("ordered").getField("g"), lit(1),
          (col("sz") - alpha + 1).cast("int"))))
      .toDF("id", "sz", "p", "g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = prefix.select(col("g"), col("id").as("id_a"),
      col("sz").as("sz_a"), col("p").as("p_a"))
    val right = prefix.select(col("g"), col("id").as("id_b"),
      col("sz").as("sz_b"), col("p").as("p_b"))
    // PPJoin positional filter (Xiao et al.): at the FIRST shared gram
    // (both sides see shared grams in the same global order, so the
    // min-position match is the first on both) no shared gram precedes
    // it, hence overlap <= 1 + min(remaining_a, remaining_b). J >= t
    // needs overlap >= ceil(t/(1+t)·(sz_a+sz_b)) — prune pairs whose
    // bound can't reach it before the expensive exact verify
    val candidates = left.join(right, Seq("g"))
      .where(col("id_a") < col("id_b"))
      .where(least(col("sz_a"), col("sz_b")).cast("double") >=
        greatest(col("sz_a"), col("sz_b")) * threshold - 1e-9)
      .withColumn("ub",
        lit(1) + least(col("sz_a") - col("p_a") - 1, col("sz_b") - col("p_b") - 1))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(min_by(col("ub"), col("p_a")).as("ub1"))
      .where(col("ub1") >=
        ceil((col("sz_a") + col("sz_b")) * (threshold / (1 + threshold)) - lit(1e-9)))
      .select("id_a", "id_b")
    verifyJaccardPairs(sh, candidates, threshold)
  }

  /** Blocked EDIT-DISTANCE similarity join: every pair of rows whose key
    * strings are within Levenshtein distance `maxDist`, found without the
    * all-pairs product (q-gram count filtering — Gravano et al. VLDB'01;
    * prefix filtering on frequency-ordered grams — Ed-Join, Xiao et al.
    * VLDB'08). Recall is EXACT: the blocking is a sound necessary
    * condition, and survivors verify with the exact `levenshtein` kernel.
    *
    * Blocking, for a pair (s, t) with ed(s, t) <= d:
    *  - length filter: ||s| − |t|| <= d;
    *  - q-gram count filter: one edit destroys at most q of a string's
    *    |s| − q + 1 positional q-grams, so the gram MULTISET overlap is
    *    >= max(|G(s)|, |G(t)|) − q·d. Duplicate grams are numbered per
    *    string — the (gram, occurrence) elements turn the multiset into a
    *    set whose equi-join overlap IS the multiset overlap — elements
    *    order globally rarest-first, and each side contributes only its
    *    first q·d + 1 elements: by the prefix-filter lemma the globally
    *    smallest common element must sit inside BOTH prefixes whenever
    *    the overlap bound is >= 1, so the equi-join on prefix elements
    *    finds every qualifying pair with a positive bound.
    *  - a pair whose bound is <= 0 (both strings shorter than q·(d+1)
    *    characters) may share no gram at all: that short-string subset
    *    self-joins under the length filter alone — and because every
    *    blocking stage runs on DISTINCT keys, the broadcast side is
    *    bounded by the short-key DOMAIN (strings of < q·(d+1)
    *    characters), not by how many rows carry them.
    *
    * Everything expensive runs on the DISTINCT KEY table: duplicate keys
    * (identical strings — the common case in dedup corpora) would
    * otherwise multiply every gram bucket and the short-string broadcast
    * by their multiplicity and emit n_dup² rows through the joins. Ids
    * fan back in only at the end — cross-key pairs via the matched key
    * pair (each unordered id pair emerges exactly once, normalized
    * least/greatest; an id has ONE key), same-key pairs (distance 0) via
    * a per-key id self-join — so only the OUTPUT is pair-sized.
    *
    * Scale shape: one (key, gram)-keyed aggregation to number grams, one
    * (gram, occ)-keyed aggregation for global frequencies, one key-keyed
    * aggregation to order prefixes, one equi-join on PREFIX elements only
    * — the globally rarest grams of each key, so hot stop-grams never
    * form a join bucket — an O(candidate-keys) verify, and output-sized
    * id join-backs. Nothing touches the O(n²) pair space.
    *
    * Returns (id_a, id_b, dist) with id_a < id_b and dist <= maxDist.
    * Ids must be globally unique across the frame; null keys compare as
    * empty strings.
    *
    * OUTPUT-SIZE WARNING: the id-pair output is inherently quadratic in
    * duplicate-key multiplicity — a key carried by m rows emits m(m−1)/2
    * same-key pairs (a 160k-duplicated key is 1.28×10¹⁰ pairs; the
    * ENGINE never materializes the pair space, but the OUTPUT is the
    * explosion). Callers that want clusters, not pairs — the dedup case —
    * should use [[editDistanceClusterEdges]] (O(rows + key-pairs) edges,
    * identical connected components) or [[editDistanceJoinKeys]] (the
    * key-domain pairs with no id fan-out at all).
    *
    * Cache ownership: the returned frame references MEMORY_AND_DISK
    * intermediates (the id projection, gram table, prefix table) that
    * stay cached for the session after the consuming action — the
    * repo-wide shared-frame idiom (NOTES). Long-lived drivers that call
    * this repeatedly should `spark.catalog.clearCache()` between corpora.
    */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1, q: Int = 2): DataFrame = {
    requireEditDistanceArgs(maxDist, q) // before any persist leaks a frame
    // ids feeds keys-distinct + two crossKey joins + the sameKey
    // self-join — without persists every branch recomputes the whole
    // front end (source scan + regex key projection included): the
    // no-exchange-reuse rule from NOTES. All are key-domain-sized.
    val ids = df.select(col(idCol).as("id"),
      coalesce(col(strCol), lit("")).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyPairs = editDistanceKeyPairsCore(ids.select(col("k")).distinct(),
      maxDist, q)
    // id fan-out (output-sized): cross-key pairs normalize id order;
    // same-key pairs are the duplicate-key groups at distance 0
    val crossKey = keyPairs
      .join(ids.select(col("id").as("ia"), col("k").as("ka")), Seq("ka"))
      .join(ids.select(col("id").as("ib"), col("k").as("kb")), Seq("kb"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
    val sameKey = ids.select(col("id").as("id_a"), col("k"))
      .join(ids.select(col("id").as("id_b"), col("k")), Seq("k"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    crossKey.unionByName(sameKey)
  }

  /** The key-domain variant of [[editDistanceJoin]]: every pair of
    * DISTINCT key strings within Levenshtein distance `maxDist`, as
    * (key_a, key_b, dist) with key_a < key_b (binary string order).
    * Output is candidate-pair-sized — duplicate-key multiplicity never
    * multiplies anything. Null keys compare as empty strings. Same cache
    * ownership as [[editDistanceJoin]].
    */
  def editDistanceJoinKeys(df: DataFrame, strCol: String,
      maxDist: Int = 1, q: Int = 2): DataFrame =
    editDistanceKeyPairsCore(
      df.select(coalesce(col(strCol), lit("")).as("k")).distinct(), maxDist, q)
      .select(col("ka").as("key_a"), col("kb").as("key_b"), col("dist"))

  /** Edit-distance dedup edges for CLUSTERING: a sparse edge set with the
    * SAME connected components as the full [[editDistanceJoin]] pair set,
    * but O(duplicate rows + key-pairs) in size instead of quadratic in
    * duplicate-key multiplicity — each duplicate-key group contributes a
    * star to its minimum id (m−1 edges, distance 0), and each matched key
    * pair contributes ONE edge between the two groups' representative
    * (minimum) ids. Connectivity is preserved: within a group every id
    * reaches the representative through the star, and any cross-key id
    * pair (a, b) is path-connected via rep(key_a) — edge — rep(key_b).
    * Feed the result straight into [[nearDupClusters]]; OpsSpec pins the
    * components equal to the full pair set's. Same cache ownership as
    * [[editDistanceJoin]].
    */
  def editDistanceClusterEdges(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1, q: Int = 2): DataFrame = {
    requireEditDistanceArgs(maxDist, q) // before any persist leaks a frame
    val ids = df.select(col(idCol).as("id"),
      coalesce(col(strCol), lit("")).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-key representative in one partial-aggregating pass; reps feeds
    // the blocking core + both edge fan-backs
    val reps = ids.groupBy(col("k"))
      .agg(min(col("id")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyPairs = editDistanceKeyPairsCore(reps.select(col("k")), maxDist, q)
    // star edges: rep -> every other carrier of the key (rep is the min,
    // so id_a < id_b by construction); singleton keys emit nothing
    val star = ids.join(reps, Seq("k"))
      .where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"), lit(0).as("dist"))
    // one representative edge per matched key pair
    val cross = keyPairs
      .join(reps.select(col("k").as("ka"), col("rep").as("ra")), Seq("ka"))
      .join(reps.select(col("k").as("kb"), col("rep").as("rb")), Seq("kb"))
      .select(least(col("ra"), col("rb")).as("id_a"),
        greatest(col("ra"), col("rb")).as("id_b"), col("dist"))
    star.unionByName(cross)
  }

  /** The shared blocking core over a DISTINCT key frame (single column
    * `k`): verified (ka, kb, dist) with ka < kb, dist <= maxDist. The
    * gram table (`el`) feeds dfreq + the prefix join and the prefix table
    * self-joins, so both persist (key-domain-sized) — see the
    * cache-ownership note on [[editDistanceJoin]].
    */
  /** Argument validation shared by the edit-distance entry points —
    * hoisted ABOVE their persist calls so invalid arguments fail before
    * any frame is cached for the session (r17 advice).
    */
  private def requireEditDistanceArgs(maxDist: Int, q: Int): Unit = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    require(q >= 1, s"q must be >= 1: $q")
  }

  private def editDistanceKeyPairsCore(keys0: DataFrame, maxDist: Int,
      q: Int): DataFrame = {
    requireEditDistanceArgs(maxDist, q)
    val keys = keys0.withColumn("len", length(col("k")))
    // numbered positional q-grams: group-count per (key, gram), then
    // re-explode 1..cnt — equivalent to numbering occurrences, without a
    // per-key window sort (the count agg is map-side partial)
    val el = keys.where(col("len") >= q)
      .select(col("k"), col("len"), explode(expr(
        s"transform(sequence(1, len - ${q - 1}), i -> substring(k, i, $q))")).as("g"))
      .groupBy(col("k"), col("len"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("k"), col("len"), col("g"),
        explode(expr("sequence(1L, cnt)")).as("occ"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = el.groupBy(col("g"), col("occ")).agg(count(lit(1)).as("df"))
    // rare-first global total order (df, gram, occ); the slice keeps the
    // q·d + 1 prefix — the only elements that enter the join
    val prefix = el.join(dfreq, Seq("g", "occ"))
      .groupBy(col("k"), col("len"))
      .agg(array_sort(collect_list(struct(col("df"), col("g"), col("occ"))))
        .as("ordered"))
      .select(col("k"), col("len"),
        explode(slice(col("ordered"), 1, q * maxDist + 1)).as("e"))
      .select(col("k"), col("len"),
        col("e.g").as("g"), col("e.occ").as("occ"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candGram = prefix
      .select(col("g"), col("occ"), col("k").as("ka"), col("len").as("len_a"))
      .join(prefix.select(col("g"), col("occ"),
        col("k").as("kb"), col("len").as("len_b")), Seq("g", "occ"))
      .where(col("ka") < col("kb") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("ka"), col("kb"))
    // the short-key block (len < q·(d+1)): bound <= 0 pairs live here;
    // the broadcast side is the short-key DOMAIN, not its carrier rows
    val short = keys.where(col("len") < q * (maxDist + 1))
    val candShort = short.select(col("k").as("ka"), col("len").as("len_a"))
      .join(broadcast(short.select(col("k").as("kb"), col("len").as("len_b"))),
        col("ka") < col("kb") &&
          abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("ka"), col("kb"))
    candGram.union(candShort).distinct()
      .withColumn("dist", levenshtein(col("ka"), col("kb")))
      .where(col("dist") <= maxDist)
  }

  /** Resolve near-dup pairs into clusters: every id labels with the
    * smallest id reachable through the pair graph (connected components).
    * Returns (id, rep); a document is the cluster's canonical keeper iff
    * id == rep.
    *
    * Two paths behind one contract, chosen by ONE bounded collect of the
    * pair plan: at most `driverResolveMaxEdges` + 1 pair rows (default
    * 4M ≈ 64 MB) come back to the driver. When the pair set fits — the
    * common case, since verified near-dup pairs are a sliver of any
    * corpus — those rows feed a union-find that resolves components in
    * one pass, with no persist and no count. Past the bound, iterative
    * min-label propagation: each round one join + one min-aggregate over
    * edge-touched vertices; rounds = component diameter (the Pregel
    * shape GraphFrames uses); convergence via the strictly-decreasing
    * label sum; each round localCheckpoints so plan lineage stays flat.
    * That path pays one extra pass over the pair plan: the bounded
    * collect ran it once, and its partitioned edge persist runs it again.
    *
    * The iteration runs over edge-TOUCHED vertices only: duplicates are
    * a small fraction of any corpus, so the per-round shuffle is
    * O(edges), never O(corpus) — untouched ids join back as their own
    * representative in one final left join.
    *
    * Cache contract: the returned frame reads neither `pairs` nor any
    * cache of this call. The driver path registers none; the propagation
    * path unpersists its edge list before returning and keeps only
    * label snapshots. A caller may release the caches its pair plan
    * reads (the signature frame of [[minhashLshPairsTracked]]) as soon
    * as this returns.
    *
    * Durability: `localCheckpoint` stores label snapshots in
    * NON-replicated executor storage — fast, but on a large cluster an
    * executor loss mid-iteration fails the job instead of recomputing
    * (lineage is severed). Set `reliableCheckpointEvery = k` to write
    * every k-th round's labels to the RELIABLE checkpoint directory
    * (`sparkContext.setCheckpointDir` must be configured) and keep the
    * cheap local snapshots between — an executor loss then replays at
    * most k-1 rounds of O(edges) work from the last durable snapshot.
    * 0 (the default) keeps the all-local behavior for single-node /
    * short-job use.
    *
    * @param driverResolveMaxEdges the most pair rows resolved on the
    *        driver, in [0, Int.MaxValue) because a Spark limit is an Int;
    *        0 sends every non-empty pair set down the propagation path
    */
  def nearDupClusters(ids: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b", maxIters: Int = 50,
      reliableCheckpointEvery: Int = 0,
      driverResolveMaxEdges: Long = 4000000L): DataFrame = {
    if (reliableCheckpointEvery > 0)
      require(ids.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliableCheckpointEvery needs sparkContext.setCheckpointDir(...)")
    require(driverResolveMaxEdges >= 0 && driverResolveMaxEdges < Int.MaxValue,
      s"driverResolveMaxEdges must be in [0, ${Int.MaxValue}), got $driverResolveMaxEdges")
    // verified near-dup pairs are a tiny fraction of any real corpus: one
    // limit(bound + 1) collect both decides the path and hands a
    // driver-sized pair set to union-find, which resolves components in
    // ONE pass instead of O(diameter) join rounds — at q45/q67 sizes every
    // extra Spark job is pure launch overhead. The bound counts pair rows,
    // duplicates and self-loops included; past it, the O(edges)-per-round
    // propagation takes over (the scale path; OpsSpec pins both paths
    // identical).
    val bounded = pairs.select(col(idA).cast("long"), col(idB).cast("long"))
      .limit(driverResolveMaxEdges.toInt + 1).collect()
    val labels: DataFrame =
      if (bounded.length <= driverResolveMaxEdges) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        // a null side or a self-loop joins no two ids, on either path;
        // union is symmetric, so a reversed or repeated pair is one edge
        bounded.foreach { row =>
          if (!row.isNullAt(0) && !row.isNullAt(1) && row.getLong(0) != row.getLong(1)) {
            val (a, b) = (row.getLong(0), row.getLong(1))
            parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
            val (ra, rb) = (find(a), find(b))
            // smaller root wins, so every root IS its component minimum
            if (ra < rb) parent.put(rb, ra)
            else if (rb < ra) parent.put(ra, rb)
          }
        }
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        parent.keySet().forEach { v =>
          rows.add(org.apache.spark.sql.Row(v, find(v))); ()
        }
        ids.sparkSession.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rep",
            org.apache.spark.sql.types.LongType))))
      } else propagatedLabels(pairs, idA, idB, maxIters, reliableCheckpointEvery)
    // untouched ids (no near-dup pair) are their own representative
    ids.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("id", "__lid"),
        col("id") === col("__lid"), "left")
      .select(col("id"), coalesce(col("rep"), col("id").cast("long")).as("rep"))
  }

  /** [[nearDupClusters]]' scale path: min-label propagation over the
    * edge-touched vertices, label snapshots per round. Returns (id, rep)
    * for every vertex on an edge.
    */
  private def propagatedLabels(pairs: DataFrame, idA: String, idB: String,
      maxIters: Int, reliableCheckpointEvery: Int): DataFrame = {
    // round 0 (the seed labels) always snapshots durably when reliable
    // checkpointing is on, so there is always a durable base to replay from
    def snapshot(df: DataFrame, round: Int): DataFrame =
      if (reliableCheckpointEvery > 0 && round % reliableCheckpointEvery == 0)
        df.checkpoint()
      else df.localCheckpoint()
    // persist PARTITIONED BY the per-round join key: InMemoryRelation
    // reports the cached partitioning, so every propagation round streams
    // edges straight out of cache instead of re-exchanging O(edges) —
    // one shuffle up front, none per round. Both edge directions come out
    // of ONE generator pass: a union of two selects over `pairs` would
    // evaluate the (often expensive) pair-generation plan twice.
    val edges = pairs
      .select(explode(array(
        struct(col(idA).as("u"), col(idB).as("v")),
        struct(col(idB).as("u"), col(idA).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .repartition(col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labs = snapshot(
        edges.select(col("u").as("id")).distinct()
          .select(col("id"), col("id").cast("long").as("rep")), 0)
      // sum over an EMPTY label set (no pairs at all) is null -> 0
      def labelSum(df: DataFrame): Long = {
        val v = df.agg(sum(col("rep"))).head()
        if (v.isNullAt(0)) 0L else v.getLong(0)
      }
      var prevSum = labelSum(labs)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val nmin = edges
          .join(labs.select(col("id").as("__v"), col("rep").as("__vrep")),
            col("v") === col("__v"))
          .groupBy(col("u")).agg(min(col("__vrep")).as("__nrep"))
        val next = snapshot(labs
          .join(nmin, labs("id") === nmin("u"), "left")
          .select(labs("id"),
            least(labs("rep"), coalesce(col("__nrep"), labs("rep"))).as("rep")),
          iter + 1)
        val s = labelSum(next)
        converged = s == prevSum
        prevSum = s
        labs = next
        iter += 1
      }
      labs
    } finally { edges.unpersist(false); () }
  }

  /** Exact n-gram Jaccard similarity of two text columns (for verification
    * or small cross products).
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val (sa, sb) = (shingles(a, n), shingles(b, n))
    size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb))
  }

  /** 64-bit SimHash over tokens: bit b of the result is 1 iff the sum of
    * (±1 per token, + when token-hash bit b is set) is positive. Computed
    * as 64 popcount-style sums over the token hash array — pure projection.
    */
  def simhash64(text: Column): Column =
    graft.functions.expressions.NativeHashFunctions.simhash64(text)

  /** The (table, blockKey) pairs for pigeonhole-correct SimHash LSH.
    *
    * The 64-bit simhash splits into `numChunks` near-equal bit chunks; a
    * block key concatenates `g = numChunks - maxHamming` chunk values, one
    * key per C(numChunks, g) chunk combination. Pigeonhole: a pair within
    * Hamming <= maxHamming differs in at most maxHamming chunks, leaving
    * >= g untouched — so at least one combination matches exactly on both
    * sides. Recall is therefore EXACT for distance <= maxHamming, same as
    * the single-chunk scheme, but the join key is g chunks wide
    * (~`g*64/numChunks` bits instead of 16): with the default
    * (numChunks=6, maxHamming=3) keys are 32 bits across 20 tables, so
    * bucket population — and with it candidate pairs — drops by ~2^16 per
    * table vs the 16-bit scheme. That is the difference between n²/2^16
    * (fatal at billions of docs) and 20·n²/2^32 candidates.
    *
    * Pure projection + one posexplode (×C(numChunks,g)) — no interpreted
    * HOFs; the combination table is static so Catalyst folds the bit
    * arithmetic into codegen.
    */
  private[ops] def simhashBlockKeys(sim: Column, maxHamming: Int, numChunks: Int): Column = {
    require(maxHamming < numChunks,
      s"pigeonhole LSH needs numChunks > maxHamming (got $numChunks <= $maxHamming)")
    val g = numChunks - maxHamming
    // near-equal chunk bit ranges over the 64 bits
    val bounds = (0 to numChunks).map(c => c * 64 / numChunks)
    val lens = (0 until numChunks).map(c => bounds(c + 1) - bounds(c))
    def chunkVal(c: Int): Column =
      shiftrightunsigned(sim, bounds(c)).bitwiseAND(lit((1L << lens(c)) - 1))
    val combos = (0 until numChunks).combinations(g).toSeq
    val keys = combos.map { chunks =>
      chunks.foldLeft(lit(0L)) { (acc, c) =>
        shiftleft(acc, lens(c)).bitwiseOR(chunkVal(c))
      }
    }
    posexplode(array(keys: _*))
  }

  /** Candidate id pairs sharing any LSH block — exposed for the
    * bounded-candidate scale law in OpsSpec. Input: (id, sim) columns.
    */
  private[ops] def simhashCandidates(sh: DataFrame,
      maxHamming: Int, numChunks: Int): DataFrame = {
    // persisted: both sides of the block-key self-join consume this frame
    // and Spark does not reuse the self-join's exchanges — unpersisted,
    // the simhash text pass would run twice. 16 bytes per document.
    val cached = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = cached.select(col("id"), col("sim"),
      simhashBlockKeys(col("sim"), maxHamming, numChunks).as(Seq("tbl", "key")))
    val l = keyed.select(col("tbl"), col("key"), col("id").as("id_a"), col("sim").as("sim_a"))
    val r = keyed.select(col("tbl"), col("key"), col("id").as("id_b"), col("sim").as("sim_b"))
    l.join(r, Seq("tbl", "key"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found by
    * pigeonhole LSH over multi-chunk block keys (exact recall at
    * <= maxHamming; see [[simhashBlockKeys]] for the scale analysis).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, numChunks: Int = 6): DataFrame = {
    val sh = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sim"))
    simhashPairsOf(sh, maxHamming, numChunks)
  }

  /** [[simhashPairs]]'s blocking + verify machinery over a PRECOMPUTED
    * `(id, sim)` frame. Exists so a correctness gate can drive the exact
    * pigeonhole pipeline with an oracle-reproducible hash (the fingerprint
    * need not use all 64 bits — unused high bits are constant in every
    * chunk key and cost nothing); production use goes through
    * [[simhashPairs]]'s native kernel.
    */
  def simhashPairsOf(sh: DataFrame,
      maxHamming: Int = 3, numChunks: Int = 6): DataFrame =
    simhashCandidates(sh, maxHamming, numChunks)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))

  /** Cross-document duplicate-SPAN statistics (the substring-dedup signal
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": long token spans repeated across documents are
    * memorization bait). For every document: the number of `k`-token
    * windows, how many of those windows also occur in at least one OTHER
    * document, and the duplicated fraction.
    *
    * Shape at 100 TB (r18): windows explode to ~tokens-per-doc rows but
    * immediately hash-aggregate to per-(doc, wkey) occurrence counts
    * with map-side partials; the per-key doc count is then a PLAIN
    * count over that collapsed frame (its rows are distinct (doc, wkey)
    * by construction — no two-level distinct aggregate), and the
    * per-doc verdict is one equi-join of collapsed-frame-sized inputs,
    * never the raw occurrence stream. Nothing is ever all-pairs.
    * `hashWindows` shuffles 8-byte xxhash64 keys instead of the window
    * strings — the scale path; the string path exists so an external
    * oracle can reproduce counts exactly (OpsSpec pins both paths to
    * identical output on fixtures).
    */
  def crossDocSpanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, hashWindows: Boolean = true): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      split(graft.ops.TextAnalysis.normalize(col(textCol)), " ").as("t"))
    val wins = base.select(col("doc_id"), explode(expr(
      s"CASE WHEN size(t) >= $k THEN transform(sequence(1, size(t) - $k + 1), " +
        s"i -> array_join(slice(t, i, $k), ' ')) ELSE array() END")).as("win"))
    val keyed = wins.select(col("doc_id"),
      (if (hashWindows) xxhash64(col("win")) else col("win")).as("wkey"))
    // aggregate BEFORE the shuffle-join (r18 optimization, guide §2.3):
    // collapse to per-(doc, wkey) occurrence counts first — the doc-count
    // aggregation and the stats join then run on the collapsed frame
    // instead of the raw window-occurrence stream, the distinct-doc count
    // becomes a plain count (occ rows are distinct (doc, wkey) by
    // construction — no two-stage count_distinct), and the persisted
    // shared frame (both branches consume occ) shrinks to the collapsed
    // size. Output is identical: n_windows = Σ occurrence counts,
    // dup_windows = Σ counts where the key spans >= 2 docs.
    val occ = keyed.groupBy(col("doc_id"), col("wkey"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docCounts = occ.groupBy(col("wkey"))
      // count(col), not count(1): a NULL doc id forms its own occ row,
      // but the pre-r18 count_distinct(doc_id) excluded NULLs from
      // ndocs — keep that semantics (r18 review)
      .agg(count(col("doc_id")).as("ndocs"))
    val stats = occ.join(docCounts, "wkey")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_windows"),
        sum(when(col("ndocs") >= 2, col("c")).otherwise(0L)).as("dup_windows"))
    docs.select(col(idCol).as("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          col("dup_windows").cast("double") / col("n_windows"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Exact-substring span dedup, first occurrence kept (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * suffix-span removal family, here at fixed `k`-token window
    * granularity): every `k`-token window whose text appeared EARLIER in
    * the corpus (global order = (doc_id, position), the first occurrence
    * wins — including earlier positions of the same document) marks its
    * span for removal; overlapping marked spans merge into intervals, and
    * the per-document result is `(n_tokens, cut_tokens, keep_frac)` after
    * the cut.
    *
    * Scale shape: one corpus scan → window explode (×~n_tokens rows, the
    * unavoidable k-gram fan-out; a second pruned scan computes the per-doc
    * token counts — cheaper than caching raw token arrays corpus-wide),
    * a first-occurrence aggregation
    * `min(struct(doc_id, pos))` per window key (map-side partial combine —
    * a hot window, e.g. a boilerplate sentence in millions of docs,
    * partial-aggregates per task instead of serializing through one
    * reducer the way a per-key `row_number` window would), one equi-join
    * of the windows against the vocabulary-sized firsts frame, and a
    * per-document interval merge (window function partitioned by doc —
    * bounded by document length, no corpus-level skew). With
    * `hashWindows` the shuffled key is the 8-byte xxhash64 of the window
    * instead of the window text (the 100 TB path); the string path exists
    * for external-oracle reproducibility, and OpsSpec pins both paths
    * identical on fixtures.
    */
  def spanDedupCut(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, hashWindows: Boolean = true): DataFrame = {
    val (counted, dups) = spanDedupParts(docs, idCol, textCol, k, hashWindows)
    intervalCutAccounting(counted, dups)
  }

  /** The per-document interval-union accounting shared by
    * [[spanDedupCut]] and [[spanDedupCutMulti]]: gaps-and-islands cut
    * length — each dup interval contributes the part of [pos, e] past
    * the running max end of earlier intervals in the doc — joined back
    * to the token counts as (doc_id, n_tokens, cut_tokens, keep_frac).
    */
  private def intervalCutAccounting(counted: DataFrame,
      ivs: DataFrame): DataFrame = {
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cut = ivs
      .select(col("doc_id"), col("pos"), col("e"),
        max(col("e")).over(byPos).as("pm"))
      .groupBy("doc_id")
      .agg(sum(greatest(lit(0),
        col("e") - greatest(coalesce(col("pm"), col("pos") - 1), col("pos") - 1)))
        .as("cut_tokens"))
    counted.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"),
        when(col("n_tokens") > 0,
          (col("n_tokens") - coalesce(col("cut_tokens"), lit(0L))).cast("double") /
            col("n_tokens"))
          .otherwise(lit(1.0)).as("keep_frac"))
  }

  /** MULTI-GRANULARITY exact-substring span dedup (r17 — the
    * variable-length composition closing most of the gap to Lee et al.
    * 2021's maximal-substring removal without a distributed suffix
    * array): a coarse GLOBAL pass at `kCoarse` (the scalable, selective
    * stage — window count and shuffle volume shrink as k grows) finds
    * duplicated windows and the CROSS-DOCUMENT pairs they connect; a
    * fine pass at `kFine` then runs ONLY within those matched pairs —
    * the dup side of each pair additionally cuts every kFine-window
    * whose content appears anywhere in the pair's keeper. Shared spans
    * of length in [kFine, kCoarse) between documents already known to
    * overlap are caught without ever paying a global kFine-gram shuffle
    * (on a crawl corpus the kFine window table would be the dominant
    * shuffle; here it exists only for the duplicate-pair sliver).
    *
    * Contract: the cut-interval set is a SUPERSET of fixed-`kCoarse`
    * [[spanDedupCut]]'s (the coarse intervals union in unchanged —
    * OpsSpec pins per-doc cut_tokens >= the fixed operator's); the fine
    * stage is DIRECTIONAL (the dup side of a coarse match cuts, the
    * keeper keeps — even where the keeper's fine occurrence is not
    * globally first) and CROSS-DOCUMENT only (doc-internal repeats are
    * the coarse stage's job; a self-pair would cut every token of the
    * doc). Output shape is [[spanDedupCut]]'s.
    *
    * Scale shape: the coarse stage is [[spanDedupCut]]'s (partial
    * min(struct) firsts, equi-join probe); `pairs` and everything fine
    * is bounded by DUPLICATED documents only — the fine window explode,
    * the (a, b, window)-keyed semi-join, and the interval union all run
    * on the pair sliver, never the corpus.
    */
  def spanDedupCutMulti(docs: DataFrame, idCol: String, textCol: String,
      kCoarse: Int = 12, kFine: Int = 6,
      hashWindows: Boolean = true): DataFrame = {
    val (counted, ivs) = spanDedupPartsMulti(docs, idCol, textCol,
      kCoarse, kFine, hashWindows)
    intervalCutAccounting(counted, ivs)
  }

  /** The multi-granularity TRANSFORM ([[spanDedupCutMulti]]'s accounting
    * materialized, the way [[spanDedupText]] materializes
    * [[spanDedupCut]]'s): per document, the normalized text with every
    * cut interval removed — coarse global duplicates AND the fine
    * within-pair spans — as `(doc_id, n_kept, kept_text)`. Contract
    * follows [[spanDedupCutMulti]]: the removed positions are a SUPERSET
    * of fixed-`kCoarse` [[spanDedupText]]'s (per doc, `n_kept` <= the
    * fixed operator's), `n_kept` == `n_tokens − cut_tokens` of the
    * accounting op on the same corpus (OpsSpec pins both), mid-doc fine
    * cuts splice like coarse ones (tokens rejoin across the gap with a
    * single space), and a fully-duplicated doc collapses to the empty
    * string. Scale shape: the accounting op's, plus the doc-bounded
    * interval collect + per-row HOF filter of [[spanDedupText]].
    */
  def spanDedupTextMulti(docs: DataFrame, idCol: String, textCol: String,
      kCoarse: Int = 12, kFine: Int = 6,
      hashWindows: Boolean = true): DataFrame = {
    val (counted, ivs) = spanDedupPartsMulti(docs, idCol, textCol,
      kCoarse, kFine, hashWindows)
    keptTextRebuild(counted, ivs)
  }

  /** Shared front end of the multi-granularity pair ([[spanDedupCutMulti]]
    * / [[spanDedupTextMulti]]): `counted` = (doc_id, n_tokens, t) per
    * document (PERSISTED — it feeds the fine window explode and the
    * caller's final join), `ivs` = (doc_id, pos, e) — one interval per
    * (doc, pos), coarse global dups unioned with the fine within-pair
    * dups, same-start overlaps keeping the longer end.
    */
  private def spanDedupPartsMulti(docs: DataFrame, idCol: String,
      textCol: String, kCoarse: Int, kFine: Int,
      hashWindows: Boolean): (DataFrame, DataFrame) = {
    require(kFine >= 1 && kFine <= kCoarse,
      s"need 1 <= kFine <= kCoarse: kFine=$kFine kCoarse=$kCoarse")
    val (counted0, dups) = spanDedupParts(docs, idCol, textCol, kCoarse,
      hashWindows)
    // counted feeds the fine window explode AND the final accounting
    // join; dups feeds pairs AND the interval union — both shared
    // frames persist (the no-exchange-reuse rule)
    val counted = counted0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupsP = dups
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = dupsP.where(col("src") =!= col("doc_id"))
      .select(col("src").as("a"), col("doc_id").as("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairDocs = pairs.select(col("a").as("doc_id"))
      .unionByName(pairs.select(col("b").as("doc_id"))).distinct()
    // fine windows for PAIR MEMBERS only — the semi-join prunes the
    // corpus before the kFine explode
    val fine = counted.join(pairDocs, Seq("doc_id"), "leftsemi")
      .where(col("n_tokens") >= kFine)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), col("n_tokens") - (kFine - 1)),
        i => struct(i.as("pos"),
          array_join(slice(col("t"), i, lit(kFine)), " ").as("win")))).as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"),
        (if (hashWindows) xxhash64(col("p.win")) else col("p.win")).as("fkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fb = fine.select(col("doc_id").as("b"), col("pos"), col("fkey"))
      .join(pairs, Seq("b"))
    val fa = fine.select(col("doc_id").as("a"), col("fkey"))
    val fineDups = fb.join(fa, Seq("a", "fkey"), "leftsemi")
      .select(col("b").as("doc_id"), col("pos"),
        (col("pos") + (kFine - 1)).as("e"))
    val ivs = dupsP.select(col("doc_id"), col("pos"), col("e"))
      .unionByName(fineDups)
      // one interval per (doc, pos): overlapping coarse/fine intervals
      // at the same start keep the longer end
      .groupBy(col("doc_id"), col("pos")).agg(max(col("e")).as("e"))
    (counted, ivs)
  }

  /** The dedup TRANSFORM for [[spanDedupCut]]'s accounting: per document,
    * the normalized text with every duplicated span removed —
    * `(doc_id, n_kept, kept_text)`. Kept tokens are exactly the positions
    * outside the union of that doc's duplicate windows, in original
    * order; a doc whose every window is a repeat of earlier content
    * collapses to the empty string. Same scale shape as the accounting
    * op plus one doc-bounded interval array (collect_list per doc) and a
    * per-row HOF filter — O(n_tokens × intervals) per document, never
    * corpus-keyed.
    */
  def spanDedupText(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, hashWindows: Boolean = true): DataFrame = {
    val (counted, dups) = spanDedupParts(docs, idCol, textCol, k, hashWindows)
    keptTextRebuild(counted, dups)
  }

  /** The kept-text rebuild shared by [[spanDedupText]] and
    * [[spanDedupTextMulti]]: per document, tokens outside the union of
    * the cut intervals, in original order — `(doc_id, n_kept,
    * kept_text)`. `ivRows` is (doc_id, pos, e) interval rows (duplicate
    * (pos, e) rows are harmless — the HOF membership test is idempotent);
    * `counted` is [[spanDedupParts]]'s (doc_id, n_tokens, t).
    */
  private def keptTextRebuild(counted: DataFrame,
      ivRows: DataFrame): DataFrame = {
    val ivs = ivRows.groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("e"))).as("ivs"))
    counted.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("t"),
        coalesce(col("ivs"),
          array().cast("array<struct<pos:int,e:int>>")).as("ivs"))
      .select(col("doc_id"),
        transform(
          filter(
            // sequence(1, 0) would step BACKWARDS — empty doc guard
            when(col("n_tokens") === 0, array().cast("array<int>"))
              .otherwise(sequence(lit(1), col("n_tokens"))),
            i => !exists(col("ivs"), iv =>
              i >= iv.getField("pos") && i <= iv.getField("e"))),
          i => element_at(col("t"), i)).as("kept"))
      .select(col("doc_id"), size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("kept_text"))
  }

  /** Shared front end of the span-dedup pair: `counted` = (doc_id,
    * n_tokens, t) per document, `dups` = (doc_id, pos, e) — one row per
    * duplicate window occurrence (first global occurrence excluded).
    */
  private def spanDedupParts(docs: DataFrame, idCol: String, textCol: String,
      k: Int, hashWindows: Boolean): (DataFrame, DataFrame) = {
    val (counted, wins) = spanWins(docs, idCol, textCol, k, hashWindows)
    val firsts = firstsOf(wins)
      .select(col("wkey"), col("doc_id").as("f_doc"), col("pos").as("f_pos"))
    val dups = wins.join(firsts, "wkey")
      .where(!(col("doc_id") === col("f_doc") && col("pos") === col("f_pos")))
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("e"),
        col("f_doc").as("src"))
    (counted, dups)
  }

  /** First occurrence per window key, flattened to (wkey, doc_id, pos) —
    * the ONE definition of the min-struct lattice every span-family
    * consumer shares ([[spanDedupParts]]'s probe, [[spanDedupIndex]],
    * [[spanDedupIndexMerge]], [[spanDedupCutDelta]]'s delta firsts), so
    * the tie rule cannot drift between the batch and incremental paths
    * (r18 review).
    */
  private def firstsOf(rows: DataFrame): DataFrame =
    // NOTE (r18): min(struct) plans as SortAggregate; the PackedOrder
    // decimal-min rewrite (HashAggregate) was tried and measured NEUTRAL
    // here (q94 ±8% within noise, q97/q100 equal) — the span family's
    // cost is the tokenize/explode, not this agg, and the production
    // hashWindows path sorts cheap 8-byte keys. Kept as struct-min;
    // dedupLinesCorpus (string keys, agg-dominated) keeps the packed
    // form where it measured −32%.
    rows.groupBy(col("wkey"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("wkey"), col("f.doc_id").as("doc_id"), col("f.pos").as("pos"))

  /** Tokenize + window-explode a corpus: `counted` = (doc_id, n_tokens,
    * t), `wins` = (doc_id, pos, wkey) — one row per k-window occurrence.
    * `persistWins` (default on) caches the window table for callers that
    * consume it from SEVERAL plan branches (a firsts aggregation AND a
    * probe join — without the persist the corpus is normalized/exploded
    * once per branch, the no-exchange-reuse rule from NOTES);
    * single-consumer callers ([[spanDedupIndex]]) pass false and skip
    * the corpus-window-sized materialization entirely (r18 review).
    */
  private def spanWins(docs: DataFrame, idCol: String, textCol: String,
      k: Int, hashWindows: Boolean,
      persistWins: Boolean = true): (DataFrame, DataFrame) = {
    require(k >= 1, "window length must be >= 1")
    val base = docs.select(col(idCol).as("doc_id"),
      split(graft.ops.TextAnalysis.normalize(
        coalesce(col(textCol), lit(""))), " ").as("t"))
    // spark split("", " ") yields [""]: an empty doc has zero real tokens
    val counted = base.select(col("doc_id"),
      when(col("t") === array(lit("")), lit(0)).otherwise(size(col("t")))
        .as("n_tokens"), col("t"))
    val wins = counted
      .where(col("n_tokens") >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), col("n_tokens") - (k - 1)),
        i => struct(i.as("pos"),
          array_join(slice(col("t"), i, lit(k)), " ").as("win")))).as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"),
        (if (hashWindows) xxhash64(col("p.win")) else col("p.win")).as("wkey"))
    (counted,
      if (persistWins)
        wins.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else wins)
  }

  // ---- incremental span dedup (delta vs a persisted firsts index) ----

  /** The window-FIRSTS INDEX of a corpus at fixed `k`: one row per
    * distinct window key — `(wkey, doc_id, pos)`, the global first
    * occurrence under (doc_id, pos) order. This is the PERSISTABLE BASE
    * STATE of the span-dedup family (vocabulary-sized, not corpus-sized):
    * a re-crawling pipeline materializes it once, dedups every new batch
    * against it with [[spanDedupCutDelta]], and rolls it forward with
    * [[spanDedupIndexMerge]] — the [[incrementalKeep]]-style
    * incremental contract (q74) for the exact-substring family.
    */
  def spanDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, hashWindows: Boolean = true): DataFrame = {
    // single consumer of the window table: no persist (r18 review)
    val (_, wins) = spanWins(docs, idCol, textCol, k, hashWindows,
      persistWins = false)
    stampIndexK(firstsOf(wins), k)
  }

  /** The window length `k` an index was built at rides as field metadata
    * on `wkey` (Spark persists field metadata through parquet round
    * trips), so [[spanDedupCutDelta]] can refuse a parameter-drifted
    * index instead of silently under/over-cutting (r18 review).
    * Hand-built indexes without the stamp are accepted unchecked.
    */
  private def stampIndexK(idx: DataFrame, k: Int): DataFrame = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.span.k", k.toLong).build()
    idx.select(col("wkey").as("wkey", md), col("doc_id"), col("pos"))
  }

  private def indexKOf(idx: DataFrame): Option[Long] = {
    val m = idx.schema("wkey").metadata
    if (m.contains("graft.span.k")) Some(m.getLong("graft.span.k")) else None
  }

  /** Merge two firsts indexes (min-struct lattice join — associative,
    * commutative, idempotent): the result equals [[spanDedupIndex]] of
    * the concatenated corpora, so batches fold in any grouping. Shuffle
    * is index-sized (distinct window keys), never corpus-sized. Indexes
    * stamped with DIFFERENT window lengths refuse to merge; the stamp
    * propagates when present.
    */
  def spanDedupIndexMerge(a: DataFrame, b: DataFrame): DataFrame = {
    (indexKOf(a), indexKOf(b)) match {
      case (Some(x), Some(y)) =>
        require(x == y, s"cannot merge span indexes built at different " +
          s"window lengths: k=$x vs k=$y")
      case _ => ()
    }
    val merged = firstsOf(a.unionByName(b))
    indexKOf(a).orElse(indexKOf(b))
      .map(kk => stampIndexK(merged, kk.toInt)).getOrElse(merged)
  }

  /** INCREMENTAL exact-substring span dedup: [[spanDedupCut]]'s
    * accounting for the DELTA documents only, deduped against `baseIndex`
    * (a [[spanDedupIndex]] of everything already ingested) unioned with
    * the delta's own internal firsts. Per batch this touches the delta's
    * windows plus one index-sized merge — the base corpus is never
    * re-read or re-exploded.
    *
    * Contract (OpsSpec pin, the q74 shape): the output is EXACTLY
    * `spanDedupCut(base ∪ delta)` restricted to the delta's doc ids —
    * the merged firsts are the min-struct lattice of the union, so the
    * dup decision per delta occurrence coincides with the recompute's
    * for ANY id interleaving. What the incremental form does NOT do is
    * revisit BASE documents: a delta doc whose (doc_id, pos) sorts below
    * a base first takes the keeper role (and the base doc's accounting,
    * frozen at its own ingest time, is stale until a full recompute) —
    * append-only pipelines whose new ids sort after old ones never hit
    * this. Pass the returned merged index forward via
    * [[spanDedupIndexMerge]] (or recompute it; both equal).
    *
    * Cache ownership (the [[editDistanceJoin]] convention): the result
    * references a MEMORY_AND_DISK persist of the DELTA's window table
    * (two plan branches consume it) that stays registered after the
    * consuming action. A long-running ingest loop calling this per
    * batch should `spark.catalog.clearCache()` (or unpersist via
    * `spark.sharedState.cacheManager`) between batches — each batch's
    * cache is delta-sized, but hundreds of batches accumulate.
    */
  def spanDedupCutDelta(delta: DataFrame, idCol: String, textCol: String,
      baseIndex: DataFrame, k: Int = 8,
      hashWindows: Boolean = true): DataFrame = {
    val (counted, dups) =
      spanDedupPartsDelta(delta, idCol, textCol, baseIndex, k, hashWindows)
    intervalCutAccounting(counted, dups)
  }

  /** The dedup TRANSFORM for [[spanDedupCutDelta]]'s accounting
    * (r18 — completes the incremental matrix the way [[spanDedupText]]
    * completes [[spanDedupCut]]): per DELTA document, the normalized
    * text with every span duplicating the base index or an earlier
    * delta occurrence removed — `(doc_id, n_kept, kept_text)`. Same
    * contract as the accounting form: equals `spanDedupText(base ∪
    * delta)` restricted to delta ids, for any id interleaving. Shares
    * [[spanDedupCutDelta]]'s cache-ownership note.
    */
  def spanDedupTextDelta(delta: DataFrame, idCol: String, textCol: String,
      baseIndex: DataFrame, k: Int = 8,
      hashWindows: Boolean = true): DataFrame = {
    val (counted, dups) =
      spanDedupPartsDelta(delta, idCol, textCol, baseIndex, k, hashWindows)
    keptTextRebuild(counted, dups)
  }

  /** Shared front end of the incremental pair ([[spanDedupCutDelta]] /
    * [[spanDedupTextDelta]]): parameter-drift guards, the delta window
    * table, and the (doc_id, pos, e) duplicate intervals against the
    * union-min lattice of `baseIndex` ∪ delta firsts.
    */
  private def spanDedupPartsDelta(delta: DataFrame, idCol: String,
      textCol: String, baseIndex: DataFrame, k: Int,
      hashWindows: Boolean): (DataFrame, DataFrame) = {
    // parameter-drift guards (r18 review): a hashed index probed with
    // string keys (or vice versa) matches NOTHING and silently keeps
    // every duplicate; a k-drifted index silently under/over-cuts. The
    // key TYPE catches the first; the metadata stamp (when present —
    // spanDedupIndex always writes it) catches the second.
    val keyType = baseIndex.schema("wkey").dataType
    val expected: org.apache.spark.sql.types.DataType =
      if (hashWindows) org.apache.spark.sql.types.LongType
      else org.apache.spark.sql.types.StringType
    require(keyType == expected,
      s"baseIndex wkey is $keyType but hashWindows=$hashWindows expects " +
        s"$expected — the index was built with the other key mode")
    indexKOf(baseIndex).foreach(ik => require(ik == k.toLong,
      s"baseIndex was built at k=$ik; this delta run uses k=$k — " +
        "rebuild the index or match the window length"))
    val (counted, wins) = spanWins(delta, idCol, textCol, k, hashWindows)
    // the union-min lattice: base index ∪ delta occurrences, keyed min —
    // only keys the DELTA actually carries matter, so semi-prune the
    // base side before the merge shuffle (the base index is the large
    // frame here; the delta's distinct keys are the small one). min is
    // associative/idempotent, so folding the delta's RAW window rows
    // straight into one firstsOf equals the former two-stage
    // firstsOf(delta) ∪-merge — and drops a full sort-aggregation pass
    // over the delta window table (r18 optimization; plan: 3 sort-agg
    // pairs → 2).
    val basePruned = baseIndex.join(
      wins.select(col("wkey")).distinct(), Seq("wkey"), "leftsemi")
    val merged = firstsOf(
      basePruned.select(col("wkey"), col("doc_id"), col("pos"))
        .unionByName(wins.select(col("wkey"), col("doc_id"), col("pos"))))
      .select(col("wkey"), col("doc_id").as("f_doc"), col("pos").as("f_pos"))
    val dups = wins.join(merged, "wkey")
      .where(!(col("doc_id") === col("f_doc") && col("pos") === col("f_pos")))
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("e"))
    (counted, dups)
  }
}
