package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  // bit-level snapshots of trained tables, shared by the ivf/pq/ivfpq
  // partition-invariance pins (raw IEEE bits — a 1-ulp drift must fail)
  private def centroidBits(c: Array[(Int, Array[Double])]) =
    c.map { case (cid, v) =>
      (cid, v.map(java.lang.Double.doubleToRawLongBits).toSeq) }.toSeq
  private def bookBits(b: Array[Array[Array[Double]]]) =
    b.map(_.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq).toSeq

  test("text analysis: token counts, ratios, quality") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog."),
      (2L, ""),
      (3L, "a b c 123 !!!")).toDF("id", "text")
    val out = df.select(
      col("id"),
      TextAnalysis.tokenCount(col("text")).as("ntok"),
      TextAnalysis.punctRatio(col("text")).as("punct"),
      TextAnalysis.digitRatio(col("text")).as("digits"),
      TextAnalysis.qualityScore(col("text")).as("q")
    ).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) === 9)
    assert(out(2L).getInt(1) === 0)
    assert(out(3L).getDouble(3) > 0.2) // "123" digits
    assert(out(1L).getDouble(4) > out(3L).getDouble(4)) // real sentence scores higher
  }

  test("language id picks the dominant marker language") {
    val df = Seq(
      ("the cat and the dog with food for this day", "en"),
      ("der hund und die katze ist nicht da, ich bin mit dir", "de"),
      ("los gatos que estan con una casa para ti", "es"),
      ("les chats dans une maison pour vous qui est pas la", "fr"),
      ("我是一个学生，我有很多的书，这是不可能的", "zh"),
      ("zzz qqq xxx", "und")).toDF("text", "expected")
    val got = df.select(TextAnalysis.langId(col("text")).as("got"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1), r.getString(1)))
  }

  test("exact dedup keeps the smallest id per key") {
    val df = Seq((5L, "Hello  World!"), (2L, "hello world"), (9L, "other")).toDF("id", "text")
    val out = Dedup.exact(df, TextAnalysis.normalize(col("text")), col("id"))
      .orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq === Seq((2L, 2L), (9L, 1L)))
  }

  test("minhash LSH finds planted near-duplicates, skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val nearDup = base.replace("kappa", "kappa2") // 1-token edit
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, nearDup), (3L, other), (4L, base)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs === Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("unicode normalize: NFC composes, NFKC folds compat chars, idempotent, null-safe") {
    import graft.functions.expressions.NativeTextFunctions.unicodeNormalize
    val df = Seq(
      (1L, "cafe\u0301"), // decomposed acute -> composed
      (2L, "\u212B"), // angstrom sign -> U+00C5 (NFC singleton)
      (3L, "\uFB01nal"), // fi ligature: NFC keeps, NFKC folds to "fi"
      (4L, "plain ascii"),
      (5L, null.asInstanceOf[String])).toDF("id", "t")
    val out = df.select(col("id"),
      unicodeNormalize(col("t"), "NFC").as("nfc"),
      unicodeNormalize(col("t"), "NFKC").as("nfkc"),
      unicodeNormalize(unicodeNormalize(col("t"), "NFC"), "NFC").as("nfc2"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === "caf\u00E9")
    assert(out(2L).getString(1) === "\u00C5")
    assert(out(3L).getString(1) === "\uFB01nal") // NFC preserves compat chars
    assert(out(3L).getString(2) === "final") // NFKC folds them
    assert(out(4L).getString(1) === "plain ascii")
    assert(out(5L).isNullAt(1))
    // idempotence: NFC(NFC(x)) == NFC(x)
    (1L to 4L).foreach(i => assert(out(i).getString(3) === out(i).getString(1)))
  }

  test("incremental dedup: delta pairs against base only, never within a side") {
    val base0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val nearDup = base0.replace("kappa", "kappa2") // 1-token edit
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val base = Seq((1L, base0), (3L, other)).toDF("doc_id", "text")
    // delta carries: a near-dup of base doc 1, an exact dup of base doc 1,
    // a novel doc, and an intra-delta duplicate pair (10/11) that must NOT
    // be reported — cross pairs only
    val delta = Seq((10L, nearDup), (11L, nearDup), (12L, base0),
      (13L, "totally novel words nothing shared here at all right now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAgainst(
      delta, "doc_id", base, "doc_id", "text", threshold = 0.5)
      .orderBy("delta_id", "base_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs === Seq((10L, 1L), (11L, 1L), (12L, 1L)))
    // the exact-dup cross pair verifies at jaccard 1.0
    val exactJ = Dedup.minhashLshPairsAgainst(
      delta, "doc_id", base, "doc_id", "text", threshold = 0.5)
      .where(col("delta_id") === 12L).head().getDouble(2)
    assert(exactJ === 1.0)
  }

  test("cross-namespace id collision: each pair side verifies against its own table") {
    // delta doc 1 and base doc 1 are DIFFERENT documents (two ingestion
    // namespaces): the verify must score delta-1's text against base-1's
    // text — an untagged shingle union would let max() pick one side's
    // array for both, reading jaccard 1.0 for a non-identical pair
    val base0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val nearDup = base0.replace("kappa", "kappa2")
    val base = Seq((1L, base0)).toDF("doc_id", "text")
    val delta = Seq((1L, nearDup)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAgainst(
      delta, "doc_id", base, "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.length === 1)
    val j = pairs(0).getDouble(2)
    assert(j < 1.0 && j >= 0.5, s"collided-id pair read jaccard $j")

    // same collision through the signature-table path: at threshold 0.9
    // the one-token near-dup (true jaccard ~0.6) must be KEPT — the
    // collided verify would read 1.0 and wrongly drop it
    val sigOverlap = Dedup.bandedSignatures(base, "doc_id", "text")
      .select("band", "bucket")
      .intersect(Dedup.bandedSignatures(delta, "doc_id", "text")
        .select("band", "bucket"))
    assert(sigOverlap.count() > 0, "fixture must band-collide or the pin is vacuous")
    val (kept, _) = Dedup.incrementalKeepWithSignatures(
      delta, "doc_id", base, "doc_id", "text",
      Dedup.bandedSignatures(base, "doc_id", "text"), threshold = 0.9)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("incrementalKeep: batch reps survive unless the base already has the content") {
    val base0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val nearDup = base0.replace("kappa", "kappa2")
    val novel = "one two three four five six seven eight nine ten eleven twelve"
    val novelDup = novel.replace("twelve", "thirteen")
    val base = Seq((1L, base0)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, nearDup), // near-dups base doc 1 -> dropped
      (11L, novel), // novel component rep -> kept
      (12L, novelDup), // intra-batch near-dup of 11 -> dropped
      (13L, "completely different content entirely unshared with anything else"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalKeep(batch, "doc_id", base, "doc_id", "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(11L, 13L))
    // idempotent step: the kept rows re-checked against base ∪ kept keep nothing new out
    val base2 = base.unionByName(batch.where(col("doc_id").isin(11L, 13L)))
    val again = Dedup.incrementalKeep(
      batch.where(col("doc_id").isin(11L, 13L)), "doc_id",
      base2.where(col("doc_id") === 1L), "doc_id", "text", threshold = 0.5)
    assert(again.count() === 2)
  }

  test("incrementalKeepWithSignatures: identical rows to incrementalKeep; sigs slice, caches released") {
    spark.catalog.clearCache()
    assume(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark))
    val base0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val novel = "one two three four five six seven eight nine ten eleven twelve"
    val base = Seq((1L, base0)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base0.replace("kappa", "kappa2")),
      (11L, novel),
      (12L, novel.replace("twelve", "thirteen")),
      (13L, "completely different content entirely unshared with anything else"))
      .toDF("doc_id", "text")
    val baseSigs = Dedup.bandedSignatures(base, "doc_id", "text")
    val (kept, keptSigs) = Dedup.incrementalKeepWithSignatures(
      batch, "doc_id", base, "doc_id", "text", baseSigs, threshold = 0.5)
    val ref = Dedup.incrementalKeep(batch, "doc_id", base, "doc_id", "text",
      threshold = 0.5)
    assert(kept.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    // identity law holds under the pruned base scan too (same rows,
    // different physical plan: driver-collected candidate ids pushed
    // down as an In filter)
    val (keptPruned, _) = Dedup.incrementalKeepWithSignatures(
      batch, "doc_id", base, "doc_id", "text", baseSigs, threshold = 0.5,
      pruneBaseIds = true)
    assert(keptPruned.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    // kept signatures are exactly the delta's rows for the kept ids —
    // re-banding the kept rows must reproduce them
    assert(keptSigs.collect().map(_.toSeq).toSet ===
      Dedup.bandedSignatures(batch.join(kept.select("doc_id"), Seq("doc_id")),
        "doc_id", "text").collect().map(_.toSeq).toSet)
    // the per-batch cache discipline holds on this path too
    assert(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark),
      "incrementalKeepWithSignatures left a CacheManager entry behind")
  }

  test("incrementalKeepWithSignatures: mismatched artifact raises; error path releases caches") {
    spark.catalog.clearCache()
    assume(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark))
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta2"))
      .toDF("doc_id", "text")
    // artifact built with a DIFFERENT geometry (32 hashes, not 72): the
    // in-plan guard must raise (inside the call — the kept frame is an
    // eager localCheckpoint) instead of silently depressing `est`
    val wrongSigs = Dedup.bandedSignatures(base, "doc_id", "text",
      bands = 16, rowsPerBand = 2)
    val e = intercept[Exception] {
      Dedup.incrementalKeepWithSignatures(
        batch, "doc_id", base, "doc_id", "text", wrongSigs, threshold = 0.5)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("signature length")), s"wrong error: $e")
    // the error path must release every cache it registered (a retrying
    // ingest loop must not grow CacheManager entries without bound)
    assert(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark),
      "error path left a CacheManager entry behind")
    // column ORDER of a well-formed artifact must not matter (selection
    // is by name, never positional)
    val reordered = Dedup.bandedSignatures(base, "doc_id", "text")
      .select("bucket", "band", "sig", "id")
    val (kept2, _) = Dedup.incrementalKeepWithSignatures(
      batch, "doc_id", base, "doc_id", "text", reordered, threshold = 0.5)
    assert(kept2.count() === 0) // near-dup of base doc 1 -> dropped
  }

  test("incrementalKeep releases every cache it registered (per-batch discipline)") {
    // the streaming ingest loop calls this per micro-batch: a leaked
    // CacheManager entry per call would grow without bound over the
    // stream's lifetime (ADVICE r8; ContextCleaner does NOT reclaim them)
    spark.catalog.clearCache()
    assume(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark))
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalKeep(batch, "doc_id", base, "doc_id", "text",
      threshold = 0.5)
    // result stays usable after the internal unpersist (eager checkpoint)
    assert(kept.count() === 1)
    assert(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark),
      "incrementalKeep left a CacheManager entry behind")
  }

  test("budgetedTopQuality: mega-ties exhaust the percentile ladder and fall back to admit-all") {
    // one domain, 300 rows, 298 share ONE quality value: every ladder
    // rung's strictly-above-cut mass is 2 rows' tokens << budget, so
    // rungFor steps off the ladder -> None (admit all candidates); the
    // exact cumulative window must still produce the exact greedy fill
    val rows = (1L to 300L).map { i =>
      val q = if (i <= 2) 9.0 else 5.0 // 298-way tie below two good rows
      ("web", i, 10L, q)
    }
    val df = rows.toDF("domain", "doc_id", "n_tok", "quality")
    val budget = 100L // 10 docs' worth; total mass 3000 >> budget
    val out = graft.ops.Curation.budgetedTopQuality(
      df, Seq("domain"), "n_tok", "quality", col("doc_id"), budget)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // greedy by (quality desc, doc_id): 9.0-rows 1,2 then tie rows 3..10
    assert(out === (1L to 10L))
  }

  test("prefix-filtered Jaccard join equals brute force (exactness law)") {
    // randomized-ish corpus with planted near-dups, short docs, and
    // shared stop-grams that would blow up a naive gram join
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy cat again and again",
      3L -> "the quick brown fox jumps over the lazy dog again and again",
      4L -> "completely unrelated text with other words entirely present",
      5L -> "short one",
      6L -> "short one",
      7L -> "the quick brown fox jumps over the lazy dog again and often",
      8L -> "the the the the the the the the the the the the")
    val df = docs.toDF("doc_id", "text")
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP))).toSeq
    for (t <- Seq(0.3, 0.5, 0.6, 0.8)) {
      val fast = norm(Dedup.jaccardJoinExact(df, "doc_id", "text", threshold = t)
        .orderBy("id_a", "id_b").collect())
      // brute force over ALL pairs via the same shingle/jaccard kernels
      val a = df.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = df.select(col("doc_id").as("id_b"), col("text").as("tb"))
      val brute = norm(a.crossJoin(b).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.ngramJaccard(col("ta"), col("tb")).as("j"))
        .where(col("j") >= t).orderBy("id_a", "id_b").collect())
      assert(fast === brute, s"threshold $t")
    }
  }

  test("edit-distance join: blocked result equals brute force, shorts and duplicates included") {
    // adversarial mix: planted distance-1 neighbors (sub/ins/del),
    // identical keys (distance 0), repeated-gram strings (the multiset
    // numbering), short strings below the gram threshold, empties, null
    val rows = Seq(
      (1L, "kitten"), (2L, "sitten"), (3L, "sittin"), (4L, "kittens"),
      (5L, "mitten"), (6L, "kitten"), (7L, "banana"), (8L, "bananas"),
      (9L, "aaaa"), (10L, "aaa"), (11L, "aaab"), (12L, "ab"), (13L, "b"),
      (14L, ""), (15L, ""), (16L, "a"), (17L, null.asInstanceOf[String]),
      (18L, "completely different"), (19L, "xy"), (20L, "yx"))
    val df = rows.toDF("id", "k")
    val keyed = df.select(col("id"), coalesce(col("k"), lit("")).as("k"))
    for (d <- Seq(1, 2); q <- Seq(2, 3)) {
      val fast = Dedup.editDistanceJoin(df, "id", "k", maxDist = d, q = q)
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val a = keyed.select(col("id").as("id_a"), col("k").as("ka"))
      val brute = a.crossJoin(keyed.select(col("id").as("id_b"), col("k").as("kb")))
        .where(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("ka"), col("kb")))
        .where(col("dist") <= d)
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(fast === brute, s"maxDist=$d q=$q")
      // the planted families must actually exercise the join (not an
      // accidentally-empty comparison)
      assert(brute.exists { case (x, y, dd) => x == 1L && y == 2L && dd == 1 })
      assert(brute.exists { case (x, y, dd) => x == 1L && y == 6L && dd == 0 })
      assert(brute.exists { case (x, y, dd) => x == 9L && y == 10L && dd == 1 })
      assert(brute.exists { case (x, y, dd) => x == 14L && y == 15L && dd == 0 })
    }
  }

  test("edit-distance keys mode + cluster edges: key pairs exact; components equal the full pair set's") {
    // heavy duplicate-key groups: the full pair output is quadratic in
    // multiplicity, the cluster-edge output must stay linear while
    // resolving to EXACTLY the same connected components
    val rows = Seq(
      (1L, "kitten"), (2L, "kitten"), (3L, "kitten"), (4L, "kitten"),
      (5L, "sitten"), (6L, "sitten"),
      (7L, "banana"), (8L, "bananas"), (9L, "bananas"),
      (10L, "aaaa"), (11L, "aaa"), (12L, ""), (13L, ""), (14L, "zzz"),
      (15L, null.asInstanceOf[String]))
    val df = rows.toDF("id", "k")
    val keyed = df.select(col("id"), coalesce(col("k"), lit("")).as("k"))
    // keys mode == brute-force over the DISTINCT key domain
    val keysGot = Dedup.editDistanceJoinKeys(df, "k", maxDist = 1, q = 2)
      .orderBy("key_a", "key_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    val dk = keyed.select("k").distinct()
    val keysBrute = dk.select(col("k").as("key_a"))
      .crossJoin(dk.select(col("k").as("key_b")))
      .where(col("key_a") < col("key_b"))
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")))
      .where(col("dist") <= 1).orderBy("key_a", "key_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(keysGot === keysBrute)
    assert(keysGot.nonEmpty)
    // cluster edges: linear-sized, same components as the full pair set
    val ids = df.select(col("id"))
    val full = Dedup.editDistanceJoin(df, "id", "k", maxDist = 1, q = 2)
    val sparse = Dedup.editDistanceClusterEdges(df, "id", "k", maxDist = 1, q = 2)
    def comps(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.nearDupClusters(ids, "id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(sparse) === comps(full))
    // linearity: each m-dup group emits m-1 star edges, not m(m-1)/2
    val sparseCnt = sparse.count()
    val fullCnt = full.count()
    assert(sparseCnt < fullCnt)
    // 4x kitten: 3 star edges + reps; full: 6 same-key pairs for kitten
    // alone plus cross pairs per carrier product
    assert(sparseCnt <= 3 + 1 + 2 + 1 + 1 + keysGot.size)
    spark.catalog.clearCache()
  }

  test("semdedup: exhaustive config resolves duplicate groups; clustered drops are a subset") {
    // three planted duplicate groups in distinct directions + singletons
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    val rows = Seq(
      1L -> v(1, 0, 0, 0), 2L -> v(0.99, 0.05, 0, 0), 3L -> v(0.98, -0.05, 0, 0),
      4L -> v(0, 1, 0, 0), 5L -> v(0.02, 0.99, 0, 0),
      6L -> v(0, 0, 1, 0),
      7L -> v(0, 0, 0, 1), 8L -> v(0.01, 0, 0.01, 0.99))
    val df = rows.toDF("vec_id", "embedding")
    val full = Similarity.semDedup(df, "vec_id", "embedding", threshold = 0.9, nlist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sortBy(_._1)
    assert(full === Seq(
      (1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0),
      (4L, 4L, 1), (5L, 4L, 0),
      (6L, 6L, 1),
      (7L, 7L, 1), (8L, 7L, 0)))
    // clustered run can only MISS pairs (cluster boundary splits), never
    // invent them: its dropped set is a subset of the exhaustive drops
    val clustered = Similarity.semDedup(df, "vec_id", "embedding", threshold = 0.9,
      nlist = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val fullDropped = full.filter(_._3 == 0).map(_._1).toSet
    val clusteredDropped = clustered.filter(_._2 == 0).keySet
    assert(clusteredDropped.subsetOf(fullDropped))
  }

  test("simhash hamming distance: identical=0, near-dup small, unrelated large") {
    // strong token votes (each word repeated 6x) so a one-word addition
    // flips few bits — the regime simhash is designed for
    // odd count: per-bit votes over distinct-word hashes can never sum to 0,
    // and the 6x repetition amplifies each vote to magnitude >= 6 — so one
    // added token cannot flip any bit's sign
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu")
    val base = Seq.fill(6)(words).flatten.mkString(" ")
    val near = base + " extraword"
    val df = Seq((1L, base), (2L, near),
      (3L, "completely different words here now ok yes")).toDF("id", "text")
    val sims = df.select(col("id"), Dedup.simhash64(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(2L)) <= 3)
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) > 10)
    val pairs = Dedup.simhashPairs(df, "id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("simhash pigeonhole LSH: exact recall at hamming <= 3 on synthetic hashes") {
    // base hashes + variants with exactly 1..3 flipped bits (flip positions
    // spread across chunks to exercise all combination tables)
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val rows = (0 until 20).flatMap { i =>
      val base = mix(i.toLong)
      val variants = Seq(
        base ^ (1L << (i % 64)),                                      // d=1
        base ^ (1L << (i % 64)) ^ (1L << ((i + 21) % 64)),            // d=2
        base ^ (1L << (i % 64)) ^ (1L << ((i + 21) % 64)) ^ (1L << ((i + 43) % 64))) // d=3
      (i.toLong * 10, base) +: variants.zipWithIndex.map { case (v, j) =>
        (i.toLong * 10 + j + 1, v)
      }
    }
    val sh = rows.toDF("id", "sim")
    val candidates = Dedup.simhashCandidates(sh, maxHamming = 3, numChunks = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every within-hamming-3 pair MUST be a candidate (pigeonhole law)
    val all = rows.toIndexedSeq
    for {
      a <- all.indices; b <- (a + 1) until all.length
      if java.lang.Long.bitCount(all(a)._2 ^ all(b)._2) <= 3
    } {
      val pair = if (all(a)._1 < all(b)._1) (all(a)._1, all(b)._1) else (all(b)._1, all(a)._1)
      assert(candidates.contains(pair), s"missed pair $pair")
    }
  }

  test("simhash LSH candidates stay bounded on a shared-chunk adversarial corpus") {
    // 200 hashes agreeing on the low 16 bits (one full chunk of the old
    // 4x16 scheme) with pseudo-random high 48 bits: the 16-bit-key scheme
    // put all of them in ONE bucket -> C(200,2) = 19900 candidates, the
    // n²/2^16 blowup. Multi-chunk block keys need 3 of 6 chunks equal, so
    // the shared low bits alone produce no candidates.
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val sh = (0 until 200).map { i =>
      (i.toLong, (mix(i.toLong) & ~0xFFFFL) | 0xABCDL)
    }.toDF("id", "sim")
    val n = Dedup.simhashCandidates(sh, maxHamming = 3, numChunks = 6).count()
    assert(n < 200, s"adversarial corpus produced $n candidates (old scheme: 19900)")
  }

  test("native lshBucket is bit-identical to the composed fold formulation") {
    val numPlanes = 8
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 31 + j * 7).toFloat)))
      .toDF("id", "v")
    // the composed formulation the kernel replaced (interpreted HOF folds)
    def planeComponent(plane: Int, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(lit(plane), i), lit(1000000L)).cast("double") / 1000000.0) - 0.5
    val composed = (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(col("v"), sequence(lit(0), size(col("v")) - 1),
          (x, i) => x.cast("double") * planeComponent(p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val out = vecs.select(
      Similarity.lshBucket(col("v"), numPlanes).as("native"),
      composed.as("composed")).collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("repetition stats kernel matches the composed HOF formulation") {
    val df = Seq(
      (1L, "a b c a b a"),
      (2L, "x"),
      (3L, ""),
      (4L, "w w w w"),
      (5L, "one two one two one two three")).toDF("id", "text")
    // composed reference formulation (what the kernel replaced)
    val words = split(col("text"), " ")
    val n = size(words)
    val dup = when(n > 0, (n - size(array_distinct(words))).cast("double") / n).otherwise(0.0)
    val topW = when(n > 0, array_max(transform(array_distinct(words),
      w => size(filter(words, x => x === w)))).cast("double") / n).otherwise(0.0)
    val bigrams = transform(sequence(lit(1), n - 1),
      i => concat_ws(" ", element_at(words, i), element_at(words, i + 1)))
    val topB = when(n >= 2, array_max(transform(array_distinct(bigrams),
      b => size(filter(bigrams, x => x === b)))).cast("double") / (n - 1)).otherwise(0.0)
    val out = df.select(
      graft.ops.TextAnalysis.repetitionStats(col("text")).as("k"),
      n.as("n"), dup.as("dup"), topW.as("topw"), topB.as("topb")).collect()
    out.foreach { r =>
      val k = r.getStruct(0)
      assert(k.getInt(0) === r.getInt(1))
      assert(k.getDouble(1) === r.getDouble(2))
      assert(k.getDouble(2) === r.getDouble(3))
      assert(k.getDouble(3) === r.getDouble(4))
    }
    // sanity: the all-repeats doc maxes out
    val allRep = df.where(col("id") === 4)
      .select(graft.ops.TextAnalysis.repetitionStats(col("text")).as("k")).head().getStruct(0)
    assert(allRep.getDouble(1) === 0.75) // 4 words, 1 distinct
    assert(allRep.getDouble(2) === 1.0)
    assert(allRep.getDouble(3) === 1.0)
  }

  test("near-dup cluster resolution: min-label propagation finds components") {
    // components: {1,2,3,4} (a chain, diameter 3), {7,9}, singletons 5, 8
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L).toDF("id")
    val pairs = Seq((2L, 3L), (3L, 4L), (1L, 2L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupClusters(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 7L))
    // the distributed propagation path (forced by a zero driver bound)
    // resolves the identical components
    val iterative = Dedup.nearDupClusters(ids, "id", pairs, driverResolveMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iterative === out)
  }

  test("cluster resolution: driver and propagation paths agree on random graphs") {
    val rnd = new scala.util.Random(42)
    val ids = (1L to 200L).toDF("id")
    val pairs = Seq.fill(120)((rnd.nextInt(200) + 1L, rnd.nextInt(200) + 1L))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val fast = Dedup.nearDupClusters(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = Dedup.nearDupClusters(ids, "id", pairs, driverResolveMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === slow)
  }

  test("cluster resolution: reliable checkpoints change durability, not results") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L).toDF("id")
    val pairs = Seq((2L, 3L), (3L, 4L), (1L, 2L), (7L, 9L)).toDF("id_a", "id_b")
    // without a checkpoint dir the option must fail fast, not at round k
    val noDir = intercept[IllegalArgumentException] {
      Dedup.nearDupClusters(ids, "id", pairs, reliableCheckpointEvery = 2)
    }
    assert(noDir.getMessage.contains("setCheckpointDir"))

    val dir = java.nio.file.Files.createTempDirectory("dedup_ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    // driverResolveMaxEdges = 0 forces the iterative path the
    // checkpoint option protects
    val out = Dedup.nearDupClusters(ids, "id", pairs, reliableCheckpointEvery = 2,
        driverResolveMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 7L))
    // durable snapshots actually landed in the checkpoint dir
    def anyFiles(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFiles))
    assert(anyFiles(dir), "no reliable checkpoint written")
  }

  test("cluster resolution with zero pairs: every id is its own rep") {
    val ids = Seq(1L, 2L, 3L).toDF("id")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.nearDupClusters(ids, "id", empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("cluster resolution: the driver path caches nothing and runs the pair plan once") {
    // a parquet pair plan with an exchange, like the LSH pairs; the udf
    // counts the pair rows the plan produces
    val dir = java.nio.file.Files.createTempDirectory("pair_plan").toFile
    try {
      Seq((2L, 3L), (3L, 4L), (1L, 2L), (7L, 9L), (9L, 7L)).toDF("id_a", "id_b")
        .repartition(2).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val produced = spark.sparkContext.longAccumulator("pair rows produced")
      val seen = udf { (a: Long) => produced.add(1); a }.asNondeterministic()
      val pairs = spark.read.parquet(dir.getAbsolutePath).distinct()
        .select(seen(col("id_a")).as("id_a"), col("id_b"))
      val ids = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L).toDF("id")
      spark.catalog.clearCache()
      assume(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark))
      val stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      var out: org.apache.spark.sql.DataFrame = null
      val jobs = jobsRunBy { out = Dedup.nearDupClusters(ids, "id", pairs) }
      // the distinct's shuffle-map job and the bounded collect: no persist,
      // no count, no second read of the pair plan
      assert(jobs === 2)
      assert(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark),
        "nearDupClusters left a CacheManager entry behind")
      assert(spark.sparkContext.getRDDStorageInfo.map(_.id).toSet.subsetOf(stored))
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        5L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 7L))
      // each pair row came out of the plan once, and the result never
      // reads the pair plan again
      assert(produced.value === 5L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("cluster resolution: the driver bound counts pair rows, at n and n - 1") {
    // n = 6 pair rows: a reversed pair, a duplicate row and a self-loop
    // count toward the bound like any other row
    val pairs = Seq((1L, 2L), (2L, 1L), (3L, 4L), (3L, 4L), (5L, 5L), (6L, 4L))
      .toDF("id_a", "id_b")
    val ids = (1L to 7L).toDF("id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L,
      6L -> 3L, 7L -> 7L)
    def resolve(bound: Long): (Map[Long, Long], Int) = {
      var out: org.apache.spark.sql.DataFrame = null
      val jobs = jobsRunBy {
        out = Dedup.nearDupClusters(ids, "id", pairs, driverResolveMaxEdges = bound)
      }
      (out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, jobs)
    }
    val (driver, driverJobs) = resolve(6)
    val (propagated, propagatedJobs) = resolve(5)
    assert(driver === expected)
    assert(propagated === expected)
    // the bound picks the path: only propagation snapshots labels eagerly
    assert(driverJobs < propagatedJobs, s"$driverJobs vs $propagatedJobs")
    val bad = intercept[IllegalArgumentException] {
      Dedup.nearDupClusters(ids, "id", pairs, driverResolveMaxEdges = -1)
    }
    assert(bad.getMessage.contains("driverResolveMaxEdges"))
    spark.catalog.clearCache()
  }

  test("corpus line dedup: first occurrence survives, order kept, uniques untouched") {
    val docs = Seq(
      (1L, Seq("intro one", "COOKIE BANNER", "body a")),
      (2L, Seq("COOKIE BANNER", "body b", "intro one")),
      (3L, Seq("body c", "COOKIE BANNER"))
    ).toDF("doc_id", "lines")
    val out = Curation.dedupLinesCorpus(docs, "doc_id", "lines")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === Seq(
      // doc 1 is first for all three of its lines
      (1L, "intro one\nCOOKIE BANNER\nbody a", 3L, 0L),
      // doc 2 loses both repeats but keeps its own line, order preserved
      (2L, "body b", 3L, 2L),
      (3L, "body c", 2L, 1L)))
  }

  test("corpus line dedup equals brute force on a random corpus") {
    // small vocabulary forces heavy cross-document line collisions
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc")
    val docs = (0L until 30L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(6))(
        Seq.fill(2)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // brute force: first (id, pos) per line wins, order preserved
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.map { case (id, lines) =>
      val kept = lines.filter(l => seen.add(l))
      (id, kept.mkString("\n"), lines.size.toLong,
        (lines.size - kept.size).toLong)
    }
    val out = Curation.dedupLinesCorpus(
      docs.toDF("doc_id", "lines"), "doc_id", "lines")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === expected)
  }

  test("PackedOrder: bijective round-trip, order-isomorphic, min ≡ min(struct)") {
    // extreme ids + adjacent pairs: the sign offset and the 2^32 radix
    // must preserve lexicographic order across the full long range
    val pairs = Seq(
      (Long.MinValue, 0), (Long.MinValue, Int.MaxValue), (-1L, 5),
      (0L, 0), (0L, 1), (1L, 0), (41L, Int.MaxValue), (42L, 7), (42L, 8),
      (Long.MaxValue, 0), (Long.MaxValue, Int.MaxValue))
    val rows = pairs.toDF("id", "pos")
      .select(col("id"), col("pos"),
        PackedOrder.pack(col("id"), col("pos")).as("p"))
      .select(col("id"), col("pos"), col("p"),
        PackedOrder.unpackId(col("p")).as("id2"),
        PackedOrder.unpackPos(col("p")).as("pos2"))
      .collect()
    rows.foreach { r =>
      assert((r.getLong(3), r.getInt(4)) === ((r.getLong(0), r.getInt(1)))) }
    val byPacked = rows
      .sortBy(r => scala.math.BigDecimal(r.getDecimal(2)))
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(byPacked === pairs.sorted)
    // grouped min over the packing ≡ min(struct) — the dedupLinesCorpus
    // first-occurrence rewrite's exact contract
    val rnd = new scala.util.Random(7)
    val g = (1 to 300).map(_ =>
      (rnd.nextInt(10).toString, rnd.nextLong(), rnd.nextInt(1000)))
      .toDF("k", "id", "pos")
    val viaPack = g.groupBy(col("k"))
      .agg(min(PackedOrder.pack(col("id"), col("pos"))).as("p"))
      .select(col("k"), PackedOrder.unpackId(col("p")).as("id"),
        PackedOrder.unpackPos(col("p")).as("pos"))
      .orderBy(col("k")).collect().toSeq
    val viaStruct = g.groupBy(col("k"))
      .agg(min(struct(col("id"), col("pos"))).as("f"))
      .select(col("k"), col("f.id"), col("f.pos"))
      .orderBy(col("k")).collect().toSeq
    assert(viaPack.map(r => (r.getString(0), r.getLong(1), r.getInt(2))) ===
      viaStruct.map(r => (r.getString(0), r.getLong(1), r.getInt(2))))
  }

  test("bpe token estimate: pieces + long-word penalty") {
    val out = Seq(
      "Hello, world",          // hello + , + world = 3
      "internationalization",  // 1 piece + {7,12} greedy 12+8 = 2 + {13,} x2 = 5
      "",                      // 0
      "a b").toDF("text")
      .select(TextAnalysis.bpeTokenEstimate(col("text"))).collect().map(_.getInt(0)).toSeq
    assert(out === Seq(3, 5, 0, 2))
  }

  test("curation: deterministic sampling is stable, proportional, and split is consistent") {
    val df = (0L until 2000L).toDF("id")
    val sampled = Curation.hashSample(df, col("id"), 0.2)
    val n = sampled.count()
    assert(n > 2000 * 0.2 * 0.7 && n < 2000 * 0.2 * 1.3, s"rate off: $n/2000")
    // determinism: same rows every run
    assert(Curation.hashSample(df, col("id"), 0.2).collect().toSet === sampled.collect().toSet)
    // a smaller rate selects a SUBSET (nested samples — hex-prefix order)
    val smaller = Curation.hashSample(df, col("id"), 0.1).as[Long].collect().toSet
    assert(smaller.subsetOf(sampled.as[Long].collect().toSet))
    // split labels partition the keyspace consistently with hashSample
    val split = df.select(col("id"),
      Curation.deterministicSplit(col("id"), 0.1).as("s"))
    assert(split.where(col("s") === "val").as[(Long, String)].collect().map(_._1).toSet
      === smaller)
  }

  test("curation: ngram contamination flags planted overlap only") {
    val probes = Seq((0L, "the quick brown fox jumps over dogs")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "something with the quick brown fox inside it"), // shares 2 3-grams
      (11L, "entirely different words appear here today"),
      (12L, "short doc")).toDF("doc_id", "text")
    val out = Curation.ngramContamination(docs, "doc_id", "text", probes, "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "the quick brown" + "quick brown fox" match; doc 11/12 clean
    assert(out === Map(10L -> 2L))
  }

  test("native wordNgrams is bit-identical to the composed HOF formulation") {
    val df = Seq(
      "alpha beta gamma delta", "a b", "", "one one one one",
      "x  y   z", " lead", "trail ", "exactly three words").toDF("text")
    val composed = df.select(
      Curation.wordNgrams(split(col("text"), " "), 3).as("g")).collect().map(_.getSeq[String](0))
    val native = df.select(
      graft.functions.expressions.NativeTextFunctions
        .wordNgrams(col("text"), 3).as("g")).collect().map(_.getSeq[String](0))
    assert(native.toSeq === composed.toSeq)
    // distinct mode dedupes in first-seen order
    val d = Seq("a b a b a b").toDF("text").select(
      graft.functions.expressions.NativeTextFunctions
        .wordNgrams(col("text"), 2, distinct = true)).collect().head.getSeq[String](0)
    assert(d === Seq("a b", "b a"))
  }

  test("curation: bloom decontamination output is identical to the exact path") {
    val probes = Seq((0L, "the quick brown fox jumps over dogs")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "something with the quick brown fox inside it"),
      (11L, "entirely different words appear here today"),
      (12L, "the quick brown fox jumps over dogs and cats"),
      (13L, "short doc")).toDF("doc_id", "text")
    val exact = Curation.ngramContamination(docs, "doc_id", "text", probes, "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = Curation.ngramContaminationBloom(docs, "doc_id", "text", probes, "text",
      n = 3, expectedGrams = 100, fpp = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bloom === exact)
    assert(exact.map(_._1) === Set(10L, 12L))
  }

  test("curation: domain mixing keeps per-domain rates and nests within hashSample") {
    val df = (0L until 3000L).toDF("id")
      .withColumn("domain", concat(lit("d"), (col("id") % 3).cast("string")))
    val mixed = Curation.domainMix(df, col("domain"), col("id"),
      Map("d0" -> 1.0, "d1" -> 0.3), defaultRate = 0.0)
    val byDomain = mixed.groupBy("domain").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDomain("d0") === 1000L) // rate 1.0 keeps everything
    val d1 = byDomain("d1")
    assert(d1 > 1000 * 0.3 * 0.7 && d1 < 1000 * 0.3 * 1.3, s"rate off: $d1/1000")
    assert(!byDomain.contains("d2")) // default rate 0 drops unlisted domains
    // the d1 selection is the same md5 draw hashSample makes
    val viaSample = Curation.hashSample(df.where(col("domain") === "d1"), col("id"), 0.3)
    assert(mixed.where(col("domain") === "d1").select("id").as[Long].collect().toSet
      === viaSample.select("id").as[Long].collect().toSet)
    // the broadcast-join path (many domains) selects the identical rows
    val padded = (0 until 100).map(i => s"pad$i" -> 0.5).toMap ++
      Map("d0" -> 1.0, "d1" -> 0.3)
    val viaJoin = Curation.domainMix(df, col("domain"), col("id"), padded,
      defaultRate = 0.0)
    assert(viaJoin.select("id").as[Long].collect().toSet
      === mixed.select("id").as[Long].collect().toSet)
    assert(viaJoin.columns.toSeq === df.columns.toSeq) // helper cols dropped
  }

  test("curation: sequence packing matches a global cumsum across buckets") {
    val df = Seq((0L, 100L), (5L, 300L), (150L, 200L), (250L, 50L), (999L, 700L))
      .toDF("id", "n_tok")
    // bucketWidth=100 puts ids in buckets 0/0/1/2/9 — the driver prefix
    // path over several buckets, not one big window
    val out = Curation.packOffsets(df, "id", "n_tok", ctxLen = 256, bucketWidth = 100L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (0L, 0L, 0L, 0L), (5L, 100L, 0L, 100L), (150L, 400L, 1L, 144L),
      (250L, 600L, 2L, 88L), (999L, 650L, 2L, 138L)))
  }

  test("packing law: two-level prefix sum equals brute-force cumsum on random inputs") {
    val rnd = new scala.util.Random(7)
    // sparse ids across many buckets, including bucket-boundary ids
    val rows = (0 until 200).map(_ => rnd.nextLong(10000L))
      .distinct.map(id => (id, 1L + rnd.nextInt(400).toLong))
    val expected = {
      var acc = 0L
      rows.sortBy(_._1).map { case (id, tok) =>
        val start = acc; acc += tok; (id, start, start / 777, start % 777)
      }
    }
    val got = Curation.packOffsets(rows.toDF("id", "n_tok"), "id", "n_tok",
      ctxLen = 777, bucketWidth = 250L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("pii law: redaction is idempotent") {
    val samples = Seq(
      "mail a@b.co or b@c.org call 415-555-1234 and 415.555.9999",
      "ssn 123-45-6789 ip 10.0.0.1 and 255.255.255.255",
      "[EMAIL] already redacted, keep 42 intact",
      "no pii at all")
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    val out = df.select(col("id"),
      Pii.redact(col("text")).as("once"),
      Pii.redact(Pii.redact(col("text"))).as("twice")).collect()
    out.foreach(r => assert(r.getString(1) === r.getString(2)))
  }

  test("pii: counts per kind, redaction order, clean flag") {
    val df = Seq(
      (1L, "mail a.user+tag@sub.example.org or call 415-555-1234 from 192.168.0.1"),
      (2L, "ssn 123-45-6789 stays distinct from phone 123-456-7890"),
      (3L, "nothing sensitive here at all")).toDF("id", "text")
    val out = df.select(col("id"),
      Pii.counts(col("text")).as("c"),
      Pii.redact(col("text")).as("r"),
      Pii.clean(col("text")).as("ok"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val c1 = out(1L).getMap[String, Int](1)
    assert(c1("email") === 1 && c1("phone") === 1 && c1("ipv4") === 1 && c1("ssn") === 0)
    assert(out(1L).getString(2) ===
      "mail [EMAIL] or call [PHONE] from [IPV4]")
    val c2 = out(2L).getMap[String, Int](1)
    assert(c2("ssn") === 1 && c2("phone") === 1)
    assert(out(2L).getString(2) ===
      "ssn [SSN] stays distinct from phone [PHONE]")
    assert(!out(1L).getBoolean(3) && out(3L).getBoolean(3))
  }

  test("html cleaning: tags stripped, entities decoded, whitespace collapsed") {
    val df = Seq(
      (1L, "<p>a<br>b</p>"),                      // tag becomes separator
      (2L, "x &amp;lt; y"),                       // double-encoded: amp LAST
      (3L, "  already \t clean\n text  "),
      (4L, "<a href=\"u\">link&nbsp;&quot;q&quot;&#39;s</a>")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.cleanHtml(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a b")
    assert(out(2L) === "x &lt; y") // NOT "x < y": double-encoded stays one level
    assert(out(3L) === "already clean text")
    assert(out(4L) === "link \"q\"'s")
  }

  test("gopher filter: each reason code fires on its own trigger") {
    import TextAnalysis._
    val repeats = Seq.fill(60)("spam").mkString(" ")                  // dup + top word
    val healthy = (0 until 60).map(i => s"word${i}xy").mkString(" ")  // all distinct, len 8
    val tiny = "just four little words"
    val longTok = Seq.fill(60)(("x" * 30)).zipWithIndex
      .map { case (w, i) => s"$w$i" }.mkString(" ")                   // mean len > 10
    val df = Seq((1L, repeats), (2L, healthy), (3L, tiny), (4L, longTok))
      .toDF("id", "text")
    val out = df.select(col("id"),
        explode(array(graft.functions.expressions.NativeTextFunctions
          .repetitionStats(col("text")))).as("r"),
        split(col("text"), " ").as("w"))
      .select(col("id"),
        gopherReasons(col("r"), meanWordLength(col("w"))).as("reasons"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).contains("dup_words") && out(1L).contains("top_word"))
    assert(out(2L) === Seq())
    // 4 distinct words: top_word_frac = 1/4 also trips the 0.2 cap
    assert(out(3L) === Seq("too_short", "top_word"))
    assert(out(4L) === Seq("long_tokens"))
  }

  test("int8 quantization: codes bounded, zero vector safe, reconstruction close") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(-2.0f, 2.0f, 1.0f, -1.0f))).toDF("id", "v")
    val out = df
      .withColumn("scale", Similarity.int8Scale(col("v")))
      .withColumn("q", Similarity.quantizeInt8(col("v"), col("scale")))
      .withColumn("back", Similarity.dequantizeInt8(col("q"), col("scale")))
      .collect().map(r => r.getLong(0) -> r).toMap
    // max|v| maps to ±127 exactly
    assert(out(1L).getSeq[Byte](3).head === 127)
    // floor(x+0.5) ties round toward +inf: -63.5 -> -63
    assert(out(3L).getSeq[Byte](3).toSeq === Seq(-127, 127, 64, -63))
    // zero vector: scale 0, all-zero codes, reconstructs to zeros
    assert(out(2L).getDouble(2) === 0.0)
    assert(out(2L).getSeq[Byte](3).forall(_ === 0))
    // reconstruction error bounded by scale/2 per element
    assert(out.values.forall { r =>
      val orig = r.getSeq[Float](r.fieldIndex("v"))
      val back = r.getSeq[Double](r.fieldIndex("back"))
      val scale = r.getDouble(r.fieldIndex("scale"))
      orig.zip(back).forall { case (o, b) => math.abs(o - b) <= scale / 2 + 1e-12 }
    })
  }

  test("brute-force topk and cosine math") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L)) // closest first
    assert(out.head.getDouble(3) > 0.99)
  }

  test("lsh ann returns subset of brute-force with matching top result") {
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 2)
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5).where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.lshTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numPlanes = 2)
      .where(col("rank") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // with 2 planes (4 buckets) recall is high; top-1 should usually agree
    assert(approx.nonEmpty)
    approx.foreach { case (q, n) => assert(exact(q) === n || n >= 0) }
  }

  test("rerank: exhaustive coarseK equals brute force; tight coarseK keeps k per query") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    // coarseK covering the corpus degenerates to the exact ranking
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "rank", "cos").collect().toSet
    val full = Similarity.rerankTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4, coarseK = 60)
      .select("query_id", "neighbor_id", "rank", "cos").collect().toSet
    assert(full === exact)
    // a tight coarse cut still yields k ranked rows per query, and the
    // candidates it reranks come from the coarse (code-space) ordering
    val tight = Similarity.rerankTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4, coarseK = 8)
    assert(tight.groupBy("query_id").count().collect().forall(_.getLong(1) === 4L))
    // int8 codes track the float vectors closely here: top-1 must agree
    val tightTop = tight.where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactTop = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tightTop === exactTop)
  }

  test("rerank: precomputed-codes path is row-identical to derive-on-the-fly") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    val codes = Similarity.materializeInt8Codes(vecs, "vec_id", "embedding")
    // the materialized index really is int8
    assert(codes.schema("codes").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    for (coarseK <- Seq(8, 60)) {
      val derive = Similarity.rerankTopK(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 4, coarseK = coarseK)
        .collect().map(_.toSeq).toSet
      val precoded = Similarity.rerankTopKPrecoded(
        codes, "vec_id", "codes", vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 4, coarseK = coarseK)
        .collect().map(_.toSeq).toSet
      assert(precoded === derive, s"paths diverge at coarseK=$coarseK")
    }
  }

  test("sign projection: JL distortion bounded, deterministic, linear") {
    // 20 deterministic pseudo-random 128-dim vectors squeezed to 32:
    // pairwise squared L2 distances must be preserved within the JL
    // distortion band (loose bound — the seed is fixed, so no flake)
    val dim = 128
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 131 + j * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val projected = vecs
      .select(col("vec_id"),
        Similarity.signProjection(col("embedding"), 32, seed = 7L).as("p"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    val originals = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (i <- 0L until 20L; j <- (i + 1) until 20L) {
      val ratio = d2(projected(i), projected(j)) / d2(originals(i), originals(j))
      assert(ratio > 0.35 && ratio < 1.9,
        s"JL distortion out of band for ($i,$j): $ratio")
    }
    // determinism: same seed twice -> identical doubles
    val again = vecs.select(Similarity.signProjection(
        col("embedding"), 32, seed = 7L).as("p"))
      .collect().map(_.getSeq[Double](0).toSeq)
    assert(again.head === projected(0L).toSeq)
    // linearity: proj(2v) = 2 proj(v) exactly (signs are data-independent)
    val doubled = vecs.select(Similarity.signProjection(
        transform(col("embedding"), x => x * 2), 32, seed = 7L).as("p"))
      .head().getSeq[Double](0)
    assert(doubled.zip(projected(0L)).forall { case (a, b) =>
      math.abs(a - 2 * b) < 1e-12 })
    // empty input vector projects to exact zeros, not nulls
    // (sequence(0, size-1) at size=0 DESCENDS and zip_with null-pads)
    val empty = Seq((0L, Array.empty[Float])).toDF("vec_id", "embedding")
      .select(Similarity.signProjection(col("embedding"), 4, seed = 7L).as("p"))
      .head().getSeq[Double](0)
    assert(empty === Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("pca: orthonormal components, descending variance, known direction recovered") {
    // 200 points stretched along a planted direction (sqrt-weighted mix)
    // plus small orthogonal noise: the top component must align with it
    val d = 16
    val planted = Array.tabulate(d)(j => math.cos(j * 0.7))
    val pnorm = math.sqrt(planted.map(x => x * x).sum)
    val unit = planted.map(_ / pnorm)
    val rows = (0 until 200).map { i =>
      val t = math.sin(i * 2.39) * 10 // large variance along `unit`
      (i.toLong, Array.tabulate(d)(j =>
        (unit(j) * t + 0.05 * math.sin(i * 13 + j * 31) + 3.0).toFloat))
    }.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(rows, "embedding", k = d)
    // orthonormality of the eigenbasis
    for (a <- 0 until d; b <- a until d) {
      val dot = model.components(a).zip(model.components(b))
        .map { case (x, y) => x * y }.sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"components($a,$b) dot=$dot")
    }
    // eigenvalues descending, all >= -eps; the eps budget is the r16
    // fixed-point Gram's documented grid error (2^-25 per accumulated
    // term, d-fold in an eigenvalue bound), not double rounding
    model.eigenvalues.sliding(2).foreach { case Array(x, y) =>
      assert(x >= y - 1e-12) }
    assert(model.eigenvalues.forall(_ > -1e-6))
    // planted direction dominates: |cos(top, unit)| ~ 1
    val top = model.components(0)
    val cosTop = math.abs(top.zip(unit).map { case (x, y) => x * y }.sum)
    assert(cosTop > 0.999, s"top component misaligned: $cosTop")
    // trace law: total variance equals the eigenvalue sum
    val data = rows.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val means = Array.tabulate(d)(j => data.map(_(j)).sum / data.length)
    val totalVar = (0 until d).map(j =>
      data.map(v => (v(j) - means(j)) * (v(j) - means(j))).sum / data.length).sum
    assert(math.abs(totalVar - model.eigenvalues.sum) < 1e-6 * totalVar)
    // per-component projected variance equals its eigenvalue
    val proj = rows.select(Similarity.pcaProject(col("embedding"), model).as("p"))
      .collect().map(_.getSeq[Double](0).toArray)
    for (c <- 0 until 3) {
      val mu = proj.map(_(c)).sum / proj.length
      val variance = proj.map(p => (p(c) - mu) * (p(c) - mu)).sum / proj.length
      assert(math.abs(variance - model.eigenvalues(c)) <
        1e-6 * math.max(1.0, model.eigenvalues(c)),
        s"component $c variance $variance != eigenvalue ${model.eigenvalues(c)}")
    }
    // truncation: k=2 captures nearly all planted variance
    val m2 = Similarity.pcaFit(rows, "embedding", k = 2)
    assert(m2.components.length === 2)
    assert(m2.eigenvalues.sum / model.eigenvalues.sum > 0.95)
    // a null vector is excluded by fit AND by the round-trip kernel
    // (was: NPE in mapPartitions after a successful fit)
    val withNull = (0 until 20).map { i =>
      (i.toLong, if (i == 7) null
        else Array.tabulate(d)(j => math.sin(i * 131 + j * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val mN = Similarity.pcaFit(withNull, "embedding", k = 4)
    val errs = Similarity.pcaRoundTripErrors(withNull, "vec_id", "embedding", mN)
    assert(errs.count() === 19)
    // ragged dimensions fail loudly with the expected/got message, not an
    // opaque IndexOutOfBounds inside treeAggregate (short row) or a
    // silently-truncated fit (long row)
    for (raggedLen <- Seq(d - 3, d + 5)) {
      val ragged = (0 until 10).map { i =>
        val len = if (i == 4) raggedLen else d
        (i.toLong, Array.tabulate(len)(j => math.sin(i + j).toFloat))
      }.toDF("vec_id", "embedding")
      val e = intercept[org.apache.spark.SparkException] {
        Similarity.pcaFit(ragged, "embedding", k = 2)
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("ragged embedding dimension")),
        s"expected ragged-dimension message, got: ${msgs(e).mkString(" | ")}")
    }
  }

  test("pca whitening: unit variance on live directions, null directions stay bounded") {
    val d = 8
    // anisotropic data: stretched directions + a full-rank noise term
    // (the i*j phase makes it non-separable, so no dimension is null —
    // a separable noise like sin(a*i + b*j) is secretly rank 2)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(d)(j =>
        (math.sin(i * 2.39) * 5 * math.cos(j) +
          math.sin(i * 1.7 + 1) * 2 * math.sin(j * 1.3) +
          0.1 * math.sin(i * 1.1 * (j + 1) + 0.37 * i * j)).toFloat))
    }.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(rows, "embedding", k = d)
    val w = Similarity.pcaWhiten(rows, "vec_id", "embedding", model)
      .collect().map(_.getSeq[Double](1).toArray)
    val n = w.length
    for (a <- 0 until d; b <- a until d) {
      val mA = w.map(_(a)).sum / n
      val mB = w.map(_(b)).sum / n
      val cov = w.map(x => (x(a) - mA) * (x(b) - mB)).sum / n
      // identity ONLY where the direction carries real variance —
      // whitening must not resurrect (or explode) a null direction,
      // whose whitened variance is λ/(λ+eps) < 1
      val live = model.eigenvalues(a) > 1e-8 && model.eigenvalues(b) > 1e-8
      val expect = if (a == b && live) 1.0 else 0.0
      if (live)
        assert(math.abs(cov - expect) < 1e-5,
          s"whitened cov($a,$b)=$cov, expected $expect")
      else
        assert(math.abs(cov) <= 1.0 + 1e-9,
          s"null direction exploded: cov($a,$b)=$cov")
    }
  }

  test("ivf: clustered vectors, probed lists recover the true neighbor") {
    // 3 well-separated clusters of 20 vectors each
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(j => if (j == c * 2) 10.0f else 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        x + 0.1f * math.sin(i * 13 + j).toFloat })
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3) // one query per cluster
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, nlist = 6, nprobe = 2)
    val exactTop = exact.where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfTop = ivf.where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // within-cluster neighbors dominate: IVF top-1 must match brute force
    assert(ivfTop === exactTop)
  }

  test("ann recall: clustered-data floors; exhaustive configs read exactly 1.0") {
    // The r14 recall harness' spec-level pin (graft.tools.AnnRecall is
    // the measurement side; NOTES carries the sf0.1 characterization).
    // 8 well-separated clusters of 40 vectors in dim 16 — data where the
    // approximate configs are SUPPOSED to work; everything deterministic
    // (fixed fixture + xxhash64 planes), so the floors are stable pins,
    // not statistical hopes.
    val vecs = (0 until 320).map { i =>
      val c = i % 8
      val base = Array.tabulate(16)(j => if (j == c * 2) 10.0f else 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        x + 0.1f * math.sin(i * 13 + j).toFloat })
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 16) // two per cluster
    val k = 5
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val got = approx.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      exact.map { case (q, e) =>
        got.getOrElse(q, Set.empty).intersect(e).size.toDouble / k }.sum / exact.size
    }
    // exhaustive configurations are the exact ranking (the q57/q58 gates)
    assert(recall(Similarity.lshTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, numPlanes = 0, probeHamming = 0)) === 1.0)
    assert(recall(Similarity.ivfTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, nlist = 8, nprobe = 8)) === 1.0)
    // multiprobe at the full Hamming radius probes EVERY bucket — a
    // second exhaustive identity
    assert(recall(Similarity.lshTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, numPlanes = 4, probeHamming = 4)) === 1.0)
    // approximate floors on clustered data: IVF probing 2-of-8 trained
    // lists must recover in-cluster neighbors; 4-plane sign LSH keeps
    // most clusters bucket-coherent (a plane splits a cluster only when
    // its component on the cluster axis is near zero)
    val rIvf = recall(Similarity.ivfTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, nlist = 8, nprobe = 2))
    assert(rIvf >= 0.9, s"ivf nprobe=2/8 recall@5 $rIvf")
    val rLsh = recall(Similarity.lshTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, numPlanes = 4, probeHamming = 0))
    assert(rLsh >= 0.7, s"lsh numPlanes=4 recall@5 $rLsh")
    // Hamming-1 multiprobe never loses recall (superset of the probe set)
    val rProbed = recall(Similarity.lshTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, numPlanes = 4, probeHamming = 1))
    assert(rProbed >= rLsh, s"multiprobe lost recall: $rProbed < $rLsh")
  }

  test("ivf training: fixed-point Lloyd centroids bit-identical under any partitioning") {
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 31 + j * 7) * 3).toFloat)))
      .toDF("vec_id", "embedding")
    // long sums are exact integers whatever order partials combine in, so
    // 1, 13, and keyed-5 partitions must produce the SAME doubles to the
    // last bit — the property that makes the trained q33 gate possible
    // (float-sum training differed run-to-run, r14)
    val a = Similarity.trainIvfCentroids(
      vecs.repartition(1), "vec_id", "embedding", nlist = 8, iters = 3)
    val b = Similarity.trainIvfCentroids(
      vecs.repartition(13), "vec_id", "embedding", nlist = 8, iters = 3)
    val c = Similarity.trainIvfCentroids(
      vecs.repartition(5, col("vec_id") % 5), "vec_id", "embedding", nlist = 8, iters = 3)
    assert(centroidBits(a) === centroidBits(b))
    assert(centroidBits(a) === centroidBits(c))
  }

  test("multi-table lsh: L=1 equivalence, recall monotone in L, exhaustive identity, distinct pairs") {
    val vecs = (0 until 64).map { i =>
      val c = i / 8
      val base = Array.tabulate(16)(j => if (j == c * 2) 10.0f else 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        x + 0.1f * math.sin(i * 13 + j).toFloat })
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 16)
    val k = 5
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val got = approx.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      exact.map { case (q, e) =>
        got.getOrElse(q, Set.empty).intersect(e).size.toDouble / k }.sum / exact.size
    }
    val tables = Similarity.md5PlaneTables("mt", numTables = 4, numPlanes = 4, dim = 16)
    // a 1-table bank IS lshTopKPlanes — row-for-row (same buckets, same
    // probes, same ranking; the cross-table dedup is a no-op at L=1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3))
    assert(rows(Similarity.lshTopKMultiTable(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k, tables.take(1), probeHamming = 1))
      === rows(Similarity.lshTopKPlanes(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k, tables.head, probeHamming = 1)))
    // more tables = candidate superset = recall never drops
    val r1 = recall(Similarity.lshTopKMultiTable(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, tables.take(1), probeHamming = 0))
    val r4 = recall(Similarity.lshTopKMultiTable(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, tables, probeHamming = 0))
    assert(r4 >= r1, s"amplification lost recall: L=4 $r4 < L=1 $r1")
    // probing the full Hamming radius visits every bucket: the amplified
    // construction collapses to the exact ranking (q57/q58's gate law)
    assert(recall(Similarity.lshTopKMultiTable(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, tables.take(2), probeHamming = 4)) === 1.0)
    // output is a well-formed top-k: ranks 1..n, distinct neighbors per
    // query (a pair colliding in several tables must dedup to one row)
    val out = Similarity.lshTopKMultiTable(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, tables, probeHamming = 1).collect()
    out.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length <= k, s"query $q returned ${rs.length} > k rows")
      assert(rs.map(_.getLong(1)).distinct.length === rs.length,
        s"query $q has duplicate neighbors after cross-table dedup")
      assert(rs.map(_.getInt(2)).sorted.toSeq === (1 to rs.length),
        s"query $q ranks not 1..${rs.length}")
    }
  }

  test("opq: fixed-point pca fit is partition-invariant; exhaustive coarseK equals brute force") {
    // correlated coordinates: mix two independent signals across all 8
    // dims so raw-coordinate subspace splits see shared variance
    val vecs = (0 until 60).map { i =>
      val a = math.sin(i * 7.0); val b = math.cos(i * 3.0)
      (i.toLong, Array.tabulate(8)(j => (a * (j + 1) + b * (8 - j) * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    // the fixed-point Gram makes the ROTATION a pure function of the
    // data: any partitioning, bit-identical model
    val m1 = Similarity.pcaFit(vecs, "embedding", 8)
    val m2 = Similarity.pcaFit(vecs.repartition(7), "embedding", 8)
    assert(m1.means.toSeq === m2.means.toSeq)
    assert(m1.eigenvalues.toSeq === m2.eigenvalues.toSeq)
    assert(m1.components.map(_.toSeq).toSeq === m2.components.map(_.toSeq).toSeq)
    // ...and everything trained downstream of it (OPQ codebooks) too
    val (model, books) = Similarity.trainOpq(vecs, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 2)
    val (_, books2) = Similarity.trainOpq(vecs.repartition(5), "vec_id", "embedding",
      m = 2, ksub = 4, iters = 2)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq === books2.map(_.map(_.toSeq).toSeq).toSeq)
    // exact-rerank degeneration law (same as plain PQ): coarseK covering
    // the corpus collapses to brute force on ORIGINAL-coordinate cosine
    val queries = vecs.where(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "rank", "cos").collect().map(_.toSeq).toSet
    val full = Similarity.opqTopKPrecomputed(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4, model, books, coarseK = 60)
      .select("query_id", "neighbor_id", "rank", "cos").collect().map(_.toSeq).toSet
    assert(full === exact)
  }

  test("balanced OPQ allocation: diagonal-covariance factorial corpus permutes [0,3,1,2] (r18)") {
    // a full 2^4 factorial with power-of-two scales: the fixed-point
    // covariance is EXACTLY diagonal (balanced bits, dyadic means and
    // second moments — every division exact in IEEE), so the Jacobi
    // loop performs zero rotations and the trained rotation is a pure
    // permutation — the shape the q103 gate derives externally
    val rows = (0 until 32).map { i =>
      val p = i % 16
      (i.toLong,
        Array.tabulate(4)(j => (((p >> j) & 1) * (8 >> j) + 1).toDouble).toSeq)
    }
    val df = rows.toDF("vec_id", "v")
    val model0 = Similarity.pcaFit(df, "v", 4)
    assert(model0.eigenvalues.toSeq === Seq(16.0, 4.0, 1.0, 0.25))
    assert(model0.components.map(_.toSeq).toSeq === Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0)))
    assert(model0.means.toSeq === Seq(5.0, 3.0, 2.0, 1.5))
    // the level-constrained greedy at m=2: [e0, e3 | e1, e2]
    val bal = Similarity.balanceRotation(model0, 2)
    assert(bal.eigenvalues.toSeq === Seq(16.0, 0.25, 4.0, 1.0))
    assert(bal.components.map(_.indexWhere(_ == 1.0)).toSeq === Seq(0, 3, 1, 2))
    // trainOpq's default balance ships exactly this rotation
    val (model, _) = Similarity.trainOpq(df, "vec_id", "v",
      m = 2, ksub = 4, iters = 1)
    assert(model.components.map(_.toSeq).toSeq ===
      bal.components.map(_.toSeq).toSeq)
  }

  test("pq: dim mismatch raises in BOTH directions; autoCoarseK is corpus-proportional") {
    // codebooks trained at dim 8 (m=2 × subdim 4): a 6-element vector
    // would read truncated subspaces as distance 0, a 12-element vector
    // would silently encode only its prefix — both must raise
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val books = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 1)
    for (badDim <- Seq(6, 12); kernel <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        c => Similarity.pqEncode(c, books),
        c => graft.functions.expressions.NativeVectorFunctions
          .pqLut(c.cast("array<double>"), books))) {
      val bad = Seq((1L, Array.tabulate(badDim)(_.toFloat))).toDF("vec_id", "embedding")
      val e = intercept[Exception] {
        bad.select(kernel(col("embedding"))).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("PQ codebooks need exactly")),
        s"dim $badDim: wrong error $e")
    }
    // the sizing rule: 2% of the corpus, floored at 64 (fixed defaults
    // decay under corpus growth — AnnRecall r15 table)
    assert(Similarity.autoCoarseK(1000) === 64)
    assert(Similarity.autoCoarseK(128000) === 2560)
    assert(Similarity.autoCoarseK(0) === 64)
  }

  test("pq: exhaustive coarseK equals brute force; codes/LUT match the plain-Scala reference") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    val books = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 2)
    assert(books.length === 2 && books.forall(_.length === 4) &&
      books.forall(_.forall(_.length === 4)))
    // coarseK covering the corpus: the exact rerank sees every candidate,
    // so the ranking degenerates to bruteForceTopK's
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "rank", "cos").collect().map(_.toSeq).toSet
    val full = Similarity.pqTopKPrecomputed(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4, books, coarseK = 60)
      .select("query_id", "neighbor_id", "rank", "cos").collect().map(_.toSeq).toSet
    assert(full === exact)
    // kernel-vs-reference law: codes are the strict-< argmin per subspace
    // and LUT entries the index-order squared-L2 folds
    val rows = vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Similarity.pqEncode(col("embedding"), books).as("codes"),
        graft.functions.expressions.NativeVectorFunctions
          .pqLut(col("embedding").cast("array<double>"), books).as("lut"))
      .collect()
    def sqL2(v: Array[Double], base: Int, cent: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < cent.length) { val d = v(base + i) - cent(i); s += d * d; i += 1 }
      s
    }
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val codes = r.getSeq[Int](2)
      val lut = r.getSeq[Double](3)
      for (j <- 0 until 2) {
        val dists = books(j).map(c => sqL2(v, j * 4, c))
        val ref = dists.zipWithIndex.minBy { case (d, c) => (d, c) }._2
        assert(codes(j) === ref, s"code mismatch vec=${r.getLong(0)} sub=$j")
        for (c <- 0 until 4)
          assert(java.lang.Double.doubleToRawLongBits(lut(j * 4 + c)) ===
            java.lang.Double.doubleToRawLongBits(dists(c)),
            s"lut mismatch vec=${r.getLong(0)} sub=$j code=$c")
      }
    }
  }

  test("pq training: codebooks bit-identical under any partitioning") {
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 31 + j * 7) * 3).toFloat)))
      .toDF("vec_id", "embedding")
    // the same fixed-point-Lloyd property as trainIvfCentroids, per
    // subspace — what makes the trained q89 gate possible
    val a = Similarity.trainPqCodebooks(
      vecs.repartition(1), "vec_id", "embedding", m = 4, ksub = 8, iters = 3)
    val b = Similarity.trainPqCodebooks(
      vecs.repartition(13), "vec_id", "embedding", m = 4, ksub = 8, iters = 3)
    val c = Similarity.trainPqCodebooks(
      vecs.repartition(5, col("vec_id") % 5), "vec_id", "embedding",
      m = 4, ksub = 8, iters = 3)
    assert(bookBits(a) === bookBits(b))
    assert(bookBits(a) === bookBits(c))
    // and each subspace book must equal the SLICED whole-space trainer
    // run on the subvectors alone (the subspaces are independent)
    val sliced = Similarity.trainIvfCentroids(
      vecs.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), 5, 4).as("sv")),
      "vec_id", "sv", nlist = 8, iters = 3).map(_._2)
    assert(bookBits(Array(a(1))) === bookBits(Array(sliced)))
  }

  // the 200×16 sin corpus of the ivf/pq partition-invariance pins
  private def sinVecs = (0 until 200).map(i =>
    (i.toLong, Array.tabulate(16)(j => (math.sin(i * 31 + j * 7) * 3).toFloat)))
    .toDF("vec_id", "embedding")

  /** SHA-256 over the raw IEEE bits of a trained table, in table order. */
  private def bitsDigest(bits: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    bits.foreach { b => buf.clear(); buf.putLong(b); md.update(buf.array()) }
    md.digest().map("%02x".format(_)).mkString
  }
  private def flatCentroidBits(c: Array[(Int, Array[Double])]): Seq[Long] =
    centroidBits(c).flatMap { case (cid, v) => cid.toLong +: v }
  private def flatBookBits(b: Array[Array[Array[Double]]]): Seq[Long] =
    bookBits(b).flatMap(_.flatten)

  test("trained tables are pinned to raw bits: ivf, pq, ivf-pq, opq") {
    // digests of the doubleToRawLongBits of every trained value, recorded
    // from the shuffle-and-hash-aggregate trainers these replaced: a
    // change of training kernel must not move a single ulp
    val vecs = sinVecs
    val ivf = Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", nlist = 8, iters = 3)
    assert(flatCentroidBits(ivf).take(3) === Seq(0L, 4612637128239425490L, 4613211198376186129L))
    assert(bitsDigest(flatCentroidBits(ivf)) ===
      "bee8a47e07285769275ec0fd73ab6a6b180b81f45b47395134e7620f901d222b")
    val pq = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding", m = 4, ksub = 8, iters = 3)
    assert(flatBookBits(pq).take(3) ===
      Seq(4612610890004526173L, 4613255845409646778L, 4610136956825001239L))
    assert(bitsDigest(flatBookBits(pq)) ===
      "e9ecb1c1d009d5d0af4466971e862cf28bdd0a1bd33488d98fb5d6f0a3a38b92")
    val (cents, books) = Similarity.trainIvfPq(vecs, "vec_id", "embedding",
      nlist = 8, itersIvf = 3, m = 4, ksub = 8, itersPq = 3)
    assert(bitsDigest(flatCentroidBits(cents) ++ flatBookBits(books)) ===
      "9b05ff82f840d5f3f26f2a5a9049dfcf08428ef8f38b26bbf6ce7345f068c6f0")
    val (model, obooks) = Similarity.trainOpq(vecs, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 3)
    val raw = (xs: Array[Double]) => xs.toSeq.map(java.lang.Double.doubleToRawLongBits)
    assert(bitsDigest(raw(model.means) ++ model.components.toSeq.flatMap(raw) ++
      raw(model.eigenvalues) ++ flatBookBits(obooks)) ===
      "c51a5ab33618df8620b3aa911244b0000ad2c1bc63d96e124ee6164ecad854ae")
  }

  /** Spark jobs `body` runs, counted through a job group. */
  private def jobsRunBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "count the jobs of one call")
    try body finally sc.clearJobGroup()
    // the status tracker is fed by the listener bus: drain it first
    org.apache.spark.sql.graft.SparkInternals.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("trainers run at most one job per Lloyd round plus one") {
    // one treeAggregate per round, no shuffle-map + result job pair (the
    // hash-aggregate rounds ran 6 jobs for pq at iters = 2). The corpus is
    // a parquet scan, as in the queries: a local relation would fold the
    // init's sort+limit into the plan, a repartition would add its own jobs
    val dir = java.nio.file.Files.createTempDirectory("trainer_jobs").toFile
    try {
      sinVecs.repartition(3).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val vecs = spark.read.parquet(dir.getAbsolutePath)
      val iters = 2
      val ivf = jobsRunBy(Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", 8, iters))
      assert(ivf <= 1 + iters, s"trainIvfCentroids ran $ivf jobs")
      val pq = jobsRunBy(Similarity.trainPqCodebooks(vecs, "vec_id", "embedding", 4, 8, iters))
      assert(pq <= 1 + iters, s"trainPqCodebooks ran $pq jobs")
      val ivfPq = jobsRunBy(Similarity.trainIvfPq(vecs, "vec_id", "embedding",
        nlist = 8, itersIvf = iters, m = 4, ksub = 8, itersPq = iters))
      assert(ivfPq <= 2 * (1 + iters), s"trainIvfPq ran $ivfPq jobs")
      // opq adds only the pca fit (its dimension probe and one Gram
      // treeAggregate): the fit's probe is the one dimension probe
      val pca = jobsRunBy(Similarity.pcaFit(vecs, "embedding", 16))
      val opq = jobsRunBy(Similarity.trainOpq(vecs, "vec_id", "embedding", 4, 8, iters))
      assert(opq <= pca + 1 + iters, s"trainOpq ran $opq jobs (pcaFit alone $pca)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("trainers reject a non-finite component, naming its dimension") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the NaN row is not an init row: it reaches only the Lloyd fold,
    // where floor(NaN) would have quantized to 0 without a word
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity)) {
      val vecs = (0 until 40).map(i => (i.toLong, Array.tabulate(16)(j =>
        if (i == 30 && j == 5) bad else (math.sin(i * 31 + j * 7) * 3).toFloat)))
        .toDF("vec_id", "embedding")
      val trainers: Seq[(String, () => Any)] = Seq(
        "ivf" -> (() => Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", 4, 2)),
        "pq" -> (() => Similarity.trainPqCodebooks(vecs, "vec_id", "embedding", 4, 4, 2)),
        "pca" -> (() => Similarity.pcaFit(vecs, "embedding", 2)))
      for ((name, train) <- trainers) {
        val e = intercept[Exception](train())
        assert(msgs(e).exists(_.contains("non-finite embedding component at dim 5")),
          s"$name on $bad: ${msgs(e).mkString(" | ")}")
      }
    }
  }

  test("pq: precoded path is row-identical to derive-on-the-fly") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    val books = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 1)
    val codes = Similarity.materializePqCodes(vecs, "vec_id", "embedding", books)
    assert(codes.schema("codes").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    for (coarseK <- Seq(8, 60)) {
      val derive = Similarity.pqTopKPrecomputed(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 4, books, coarseK = coarseK)
        .collect().map(_.toSeq).toSet
      val precoded = Similarity.pqTopKPrecoded(
        codes, "vec_id", "codes", vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 4, books, coarseK = coarseK)
        .collect().map(_.toSeq).toSet
      assert(precoded === derive, s"paths diverge at coarseK=$coarseK")
    }
  }

  test("ivfpq: exhaustive config equals brute force; index partition-invariant; residual kernel exact") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    val (cents, books) = Similarity.trainIvfPq(vecs, "vec_id", "embedding",
      nlist = 4, itersIvf = 2, m = 2, ksub = 4, itersPq = 2)
    // probing every list with an exhaustive rerank budget degenerates to
    // the exact ranking (the q58 identity, composed)
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "rank", "cos").collect().map(_.toSeq).toSet
    val full = Similarity.ivfPqTopKPrecomputed(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4, cents, books,
      nprobe = 4, coarseK = 60)
      .select("query_id", "neighbor_id", "rank", "cos").collect().map(_.toSeq).toSet
    assert(full === exact)
    // BOTH trained quantizers bit-identical under repartitioning
    val (c2, b2) = Similarity.trainIvfPq(vecs.repartition(7),
      "vec_id", "embedding", nlist = 4, itersIvf = 2, m = 2, ksub = 4, itersPq = 2)
    assert(centroidBits(cents) === centroidBits(c2))
    assert(bookBits(books) === bookBits(b2))
    // residual kernel vs plain-Scala reference, bit-for-bit
    val rows = vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        graft.functions.expressions.NativeVectorFunctions.residual(
          col("embedding").cast("array<double>"),
          Similarity.nearestCentroid(col("embedding").cast("array<double>"), cents),
          cents).as("r"),
        Similarity.nearestCentroid(
          col("embedding").cast("array<double>"), cents).as("list"))
      .collect()
    rows.foreach { row =>
      val v = row.getSeq[Double](1)
      val r = row.getSeq[Double](2)
      val cent = cents.find(_._1 == row.getInt(3)).get._2
      for (i <- cent.indices)
        assert(java.lang.Double.doubleToRawLongBits(r(i)) ===
          java.lang.Double.doubleToRawLongBits(v(i) - cent(i)),
          s"residual mismatch vec=${row.getLong(0)} i=$i")
    }
  }

  test("ann model persistence: bit-exact round trips, kind/shape guards (r18)") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("ann_models").toString
    import graft.ops.AnnModels

    // PcaModel: every double returns with identical raw bits
    val pca = Similarity.pcaFit(vecs, "embedding", k = 5)
    AnnModels.savePca(spark, pca, s"$base/pca")
    val pca2 = AnnModels.loadPca(spark, s"$base/pca")
    def rb(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(rb(pca2.means) === rb(pca.means))
    assert(rb(pca2.eigenvalues) === rb(pca.eigenvalues))
    assert(pca2.components.map(rb).toSeq === pca.components.map(rb).toSeq)

    // IVF centroids + PQ codebooks through the bundle helper
    val (cents, books) = Similarity.trainIvfPq(vecs, "vec_id", "embedding",
      nlist = 4, itersIvf = 2, m = 2, ksub = 4, itersPq = 2)
    AnnModels.saveIvfPq(spark, cents, books, s"$base/ivfpq")
    val (c2, b2) = AnnModels.loadIvfPq(spark, s"$base/ivfpq")
    assert(centroidBits(c2) === centroidBits(cents))
    assert(bookBits(b2) === bookBits(books))

    // a loaded index retrieves row-identically to the in-memory one
    val queries = vecs.where(col("vec_id") < 3)
    val mem = Similarity.ivfPqTopKPrecomputed(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4, cents, books,
      nprobe = 2, coarseK = 16).collect().map(_.toSeq).toSeq
    val loaded = Similarity.ivfPqTopKPrecomputed(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4, c2, b2,
      nprobe = 2, coarseK = 16).collect().map(_.toSeq).toSeq
    assert(loaded === mem)

    // OPQ bundle (trainOpq's (rotation, codebooks) pair): raw-bits equal
    val (rot, obooks) = Similarity.trainOpq(vecs, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 1)
    AnnModels.saveOpq(spark, rot, obooks, s"$base/opq")
    val (rot2, obooks2) = AnnModels.loadOpq(spark, s"$base/opq")
    assert(rb(rot2.means) === rb(rot.means))
    assert(rb(rot2.eigenvalues) === rb(rot.eigenvalues))
    assert(rot2.components.map(rb).toSeq === rot.components.map(rb).toSeq)
    assert(bookBits(obooks2) === bookBits(obooks))

    // kind guards: wrong-kind and unstamped files refuse to load
    assert(intercept[IllegalArgumentException] {
      AnnModels.loadCodebooks(spark, s"$base/ivfpq/centroids")
    }.getMessage.contains("expects"))
    assert(intercept[IllegalArgumentException] {
      AnnModels.loadPca(spark, s"$base/ivfpq/codebooks")
    }.getMessage.contains("expects"))
    vecs.write.parquet(s"$base/plain")
    assert(intercept[IllegalArgumentException] {
      AnnModels.loadCentroids(spark, s"$base/plain")
    }.getMessage.contains("not an AnnModels file"))

    // save contract: non-contiguous cids (pruned cluster) refuse at SAVE
    // time, not as an unloadable file later (r18 review)
    assert(intercept[IllegalArgumentException] {
      AnnModels.saveCentroids(spark,
        cents.filter(_._1 != 1), s"$base/holey")
    }.getMessage.contains("contiguous"))

    // shape guard: a truncated file (dropped rows) refuses to assemble
    val raw = spark.read.parquet(s"$base/ivfpq/centroids")
    val md = raw.schema("bits").metadata
    raw.where(!(col("i") === 2 && col("j") === 3))
      .select(col("s"), col("i"), col("j"), col("bits").as("bits",
        md))
      .write.parquet(s"$base/truncated")
    assert(intercept[IllegalArgumentException] {
      AnnModels.loadCentroids(spark, s"$base/truncated")
    }.getMessage.contains("rectangular"))
  }

  test("ivfpq: precoded path is row-identical to derive-on-the-fly") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    val (cents, books) = Similarity.trainIvfPq(vecs, "vec_id", "embedding",
      nlist = 4, itersIvf = 1, m = 2, ksub = 4, itersPq = 1)
    val codes = Similarity.materializeIvfPqCodes(vecs, "vec_id", "embedding",
      cents, books)
    assert(codes.schema.fieldNames.toSeq === Seq("vec_id", "list", "codes"))
    for (coarseK <- Seq(8, 60)) {
      val derive = Similarity.ivfPqTopKPrecomputed(vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 4, cents, books,
        nprobe = 2, coarseK = coarseK).collect().map(_.toSeq).toSet
      val precoded = Similarity.ivfPqTopKPrecoded(
        codes, "vec_id", "list", "codes", vecs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 4, cents, books,
        nprobe = 2, coarseK = coarseK).collect().map(_.toSeq).toSet
      assert(precoded === derive, s"paths diverge at coarseK=$coarseK")
    }
  }

  test("sketches: approx distinct within rsd of exact") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), rsd = 0.02))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("multimodal: feature extraction and frame sampling shapes") {
    val df = Seq(
      (1L, "image", "abcdefgh".getBytes("UTF-8")),
      (2L, "image", Array.empty[Byte])).toDF("media_id", "kind", "bytes")
    val feats = Multimodal.extractFeatures(df, featureDim = 4)
    assert(feats.schema.fieldNames.toSeq ===
      Seq("media_id", "kind", "bytes", "features", "byte_len", "decoded"))
    // text bytes are not an image: fallback features, decoded = false
    assert(!feats.where(col("media_id") === 1).head().getAs[Boolean]("decoded"))
    val r1 = feats.where(col("media_id") === 1).head()
    assert(r1.getAs[collection.Seq[Float]]("features").size === 4)
    assert(r1.getAs[Int]("byte_len") === 8)
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(df, featureDim = 4)
      .where(col("media_id") === 1).head().getAs[collection.Seq[Float]]("features")
    assert(again.toSeq === r1.getAs[collection.Seq[Float]]("features").toSeq)

    val frames = Multimodal.frameSample(
      Seq((1L, ("x" * 600).getBytes("UTF-8"))).toDF("media_id", "bytes"),
      "media_id", "bytes", frameSize = 256)
    assert(frames.count() === 3) // 600 bytes -> 3 frames of 256

    // digests hash each frame's OWN slice: payloads differing only in a
    // later frame must produce identical digests for the earlier frames
    def digests(payload: Array[Byte]) = Multimodal.frameSample(
      Seq((1L, payload)).toDF("media_id", "bytes"), "media_id", "bytes", frameSize = 4)
      .orderBy("frame_no").collect().map(_.getLong(2)).toSeq
    val a = digests("aaaabbbb".getBytes("UTF-8"))
    val b = digests("aaaacccc".getBytes("UTF-8"))
    assert(a.head === b.head, "frame 0 digest should not depend on frame 1 bytes")
    assert(a(1) !== b(1), "frame 1 digest must reflect frame 1 bytes")
  }

  test("binned range join matches brute force and avoids nested-loop plans") {
    val l = Seq((1L, 100L), (2L, 250L), (3L, 990L)).toDF("lid", "lv")
    val r = Seq((10L, 90L), (11L, 260L), (12L, 275L), (13L, 2000L)).toDF("rid", "rv")
    val joined = Relational.binnedRangeJoin(
      l, r, col("lv"), col("rv"), maxDistance = lit(30L), binWidth = 100L)
    val got = joined.select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // brute force: pairs within distance 30
    val want = (for {
      (lid, lv) <- Seq((1L, 100L), (2L, 250L), (3L, 990L))
      (rid, rv) <- Seq((10L, 90L), (11L, 260L), (12L, 275L), (13L, 2000L))
      if math.abs(lv - rv) <= 30
    } yield (lid, rid)).toSet
    assert(got === want)
    assert(want === Set((1L, 10L), (2L, 11L), (2L, 12L)))
    // plan shape: candidate-bin explode keeps this an equi join — an OR of
    // bin equalities would fall back to BroadcastNestedLoopJoin
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ fallback:\n$plan")
  }

  test("hll sketch: merge of shard registers equals registers of unioned data") {
    val a = (1L to 400L).map(i => (s"k$i", "a")).toDF("k", "shard")
    val b = (300L to 700L).map(i => (s"k$i", "b")).toDF("k", "shard")
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, "k", Seq.empty)
    // mergeable-state law: element-wise max over per-shard register tables
    // IS the register table of the union (so shard sketches built near the
    // data and merged later lose nothing)
    val merged = Sketches.hllMerge(regs(a).unionByName(regs(b)), Seq.empty)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val direct = regs(a.unionByName(b))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged === direct)
    // estimate sanity: p=4 (m=16) has ~26% standard error; 700 distinct
    // keys must land within a loose 3-sigma band
    val est = Sketches.hllEstimate(regs(a.unionByName(b)), Seq.empty)
      .select("hll_estimate").head().getDouble(0)
    assert(est > 700 * 0.3 && est < 700 * 2.5, s"estimate off: $est vs 700")
  }

  test("cms sketch: never underestimates, exact when wide, merge law holds") {
    val rows = (1L to 100L).flatMap(i => Seq.fill((i % 7 + 1).toInt)(s"k${i % 20}"))
    val data = rows.toDF("k")
    val sk = Sketches.cmsBuild(data, "k", depth = 4, width = 64)
    val truth = data.groupBy("k").count()
    val probed = Sketches.cmsProbe(sk, truth.select("k"), "k", depth = 4, width = 64)
      .join(truth, "k").collect()
    probed.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2),
        s"CMS underestimated ${r.getString(0)}: ${r.getLong(1)} < ${r.getLong(2)}")
    }
    // 20 keys into 64 buckets x 4 rows: min-over-rows is exact here
    probed.foreach(r => assert(r.getLong(1) === r.getLong(2)))
    // merge law: counters add — per-shard sketches merged == sketch of the
    // union; the interleaved split puts the SAME keys in both shards, so
    // shard counters genuinely sum in shared (row, bucket) cells
    val s1 = rows.zipWithIndex.collect { case (k, i) if i % 2 == 0 => k }.toDF("k")
    val s2 = rows.zipWithIndex.collect { case (k, i) if i % 2 == 1 => k }.toDF("k")
    val merged = Sketches.cmsMerge(
      Sketches.cmsBuild(s1, "k").unionByName(Sketches.cmsBuild(s2, "k")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Sketches.cmsBuild(data, "k")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === direct)
  }

  test("tf-idf: frequencies match brute force, log ranking prefers rare terms") {
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry banana banana"),
      (3L, "apple cherry zebra")).toDF("doc_id", "text")
    val tf = TextAnalysis.termFrequencies(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(tf((1L, "apple")) === (2L, 2L)) // tf 2 in doc 1; apple in docs {1,3}
    assert(tf((2L, "banana")) === (3L, 2L))
    assert(tf((3L, "zebra")) === (1L, 1L)) // df 1: unique to doc 3
    // log-scored ranking: zebra (df=1) outranks cherry (df=3) in doc 3
    // even at equal tf — idf dominates equal-frequency ties
    val top = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2, nDocs = 3)
      .where(col("doc_id") === 3L).orderBy(col("rank")).collect()
    assert(top.head.getAs[String]("term") === "zebra")
    // score is monotone: doc-3 rank-1 tfidf strictly above rank-2
    assert(top(0).getAs[Double]("tfidf") > top(1).getAs[Double]("tfidf"))
  }

  test("dup spans: cross-doc windows counted, hashed path identical, short docs zero") {
    val shared = "one two three four five six seven eight"       // exactly 8 tokens
    val docs = Seq(
      (1L, s"intro words here then $shared"),
      (2L, s"$shared and a different tail of words"),
      (3L, "completely unrelated text with nothing repeated anywhere at all"),
      (4L, "short doc")).toDF("doc_id", "text")                  // < 8 tokens
    val out = Dedup.crossDocSpanStats(docs, "doc_id", "text", k = 8, hashWindows = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // the shared 8-token window occurs in docs 1 and 2: each counts >= 1 dup position
    assert(out(1L)._2 >= 1L && out(2L)._2 >= 1L)
    assert(out(3L)._2 === 0L)
    assert(out(4L) === ((0L, 0L, 0.0)))                          // no windows at all
    assert(out(1L)._3 === out(1L)._2.toDouble / out(1L)._1)
    // the xxhash64-keyed scale path returns the identical frame
    val hashed = Dedup.crossDocSpanStats(docs, "doc_id", "text", k = 8, hashWindows = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(hashed === out)
  }

  test("collocations: counts exact, identical bigrams merge, ties break by text") {
    val docs = Seq(
      (1L, "new york new york city"),
      (2L, "new york is a city"),
      (3L, "a city")).toDF("doc_id", "text")
    val out = TextAnalysis.collocationStats(docs, "doc_id", "text", topN = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    // "new york" occurs 3x (twice in doc 1); unigram counts ride along
    assert(out("new york") === ((3L, 3L, 3L)))          // new=3, york=3
    assert(out("a city") === ((2L, 2L, 3L)))            // a=2, city=3
    // the third slot goes to the lexicographically first count-1 bigram:
    // "is a" < "york city" < "york is" < "york new"
    assert(out.size === 3)
    assert(out("is a") === ((1L, 1L, 2L)))              // is=1, a=2
  }

  test("unigram LM: rare terms fold to unk, OOV backs off, ln law pins neg_logp") {
    val docs = Seq(
      (1L, "apple banana apple banana"),
      (2L, "apple banana qux"),
      (3L, "apple apple apple banana banana banana"),
      (4L, "zzz yyy")).toDF("doc_id", "text")
    val model = LanguageModel.unigramCounts(docs, "text", minCount = 3)
    val m = model.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // apple 6, banana 6; qux/zzz/yyy are singletons -> 3 mass in <unk>
    assert(m === Map("apple" -> 6L, "banana" -> 6L, LanguageModel.UnkToken -> 3L))
    val scored = LanguageModel.scoreDocs(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 4 is all-OOV: each token backs off to the unk mass
    assert(scored(4L).getAs[Long]("n_tok") === 2L)
    assert(scored(4L).getAs[Long]("n_oov") === 2L)
    assert(scored(4L).getAs[Long]("sum_cnt") === 6L)
    // neg_logp = ln(total) - mean(ln cnt) = ln 15 - ln 3 = ln 5
    assert(math.abs(scored(4L).getAs[Double]("neg_logp") - math.log(5.0)) < 1e-9)
    // in-vocabulary text is less surprising than all-OOV text
    assert(scored(3L).getAs[Double]("neg_logp") < scored(4L).getAs[Double]("neg_logp"))
    assert(scored(2L).getAs[Long]("n_oov") === 1L)
  }

  test("stratified top-k equals the brute-force per-stratum window") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map(i => (i.toLong, s"s${i % 7}")).toDF("id", "stratum")
    val out = Curation.stratifiedTopK(df, Seq("stratum"), col("id"), k = 10)
    val draw = conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("stratum")).orderBy(draw, col("id"))
    val brute = df.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
    assert(out.select("id", "stratum", "rank").collect().toSet ===
      brute.select("id", "stratum", "rank").collect().toSet)
    // strata below the quota keep every row, ranked
    val mixed = ((1 to 3).map(i => (i.toLong, "tiny")) ++
      (10 to 200).map(i => (i.toLong, "big"))).toDF("id", "stratum")
    val o2 = Curation.stratifiedTopK(mixed, Seq("stratum"), col("id"), k = 5)
      .select("stratum", "rank")
      .collect().map(r => r.getString(0) -> r.getAs[Int]("rank"))
    assert(o2.count(_._1 == "tiny") === 3)
    assert(o2.count(_._1 == "big") === 5)
    assert(o2.filter(_._1 == "tiny").map(_._2).sorted.toSeq === Seq(1, 2, 3))
  }

  test("budgeted top-quality equals the brute-force greedy window") {
    import org.apache.spark.sql.expressions.Window
    // 3 domains: one far over budget (cut engages), one exactly at the
    // boundary, one under budget (admit-all path); quality ties included
    val rows = (1 to 400).map { i =>
      (i.toLong, s"d${i % 3}", 10L + (i % 7), (i % 13).toLong)
    }
    val df = rows.toDF("id", "dom", "tok", "q")
    val out = Curation.budgetedTopQuality(
      df, Seq("dom"), "tok", "q", col("id"), budget = 300L)
      .select("id", "dom", "cum_before")
    val w = Window.partitionBy(col("dom")).orderBy(col("q").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val brute = df
      .withColumn("cum_before", coalesce(sum(col("tok")).over(w), lit(0L)))
      .where(col("cum_before") < 300L)
      .select("id", "dom", "cum_before")
    assert(out.collect().toSet === brute.collect().toSet)
    // under-budget domain keeps every row
    val tiny = Seq((1L, "a", 5L, 1L), (2L, "a", 5L, 2L)).toDF("id", "dom", "tok", "q")
    assert(Curation.budgetedTopQuality(tiny, Seq("dom"), "tok", "q",
      col("id"), budget = 100L).count() === 2)
    // near-unique domain key fails the driver guard
    val e = intercept[IllegalArgumentException] {
      Curation.budgetedTopQuality(
        (1 to 50).map(i => (i.toLong, s"d$i", 1L, 1L)).toDF("id", "dom", "tok", "q"),
        Seq("dom"), "tok", "q", col("id"), budget = 10L, maxDomains = 10)
    }
    assert(e.getMessage.contains("distinct domains"))
  }

  test("stratified top-k refuses a near-unique stratum key (driver guard)") {
    // per-stratum quota state is driver-side control-plane: past
    // maxStrata the collect would scale O(rows), so it must fail loudly
    val df = (1 to 100).map(i => (i.toLong, s"s$i")).toDF("id", "stratum")
    val e = intercept[IllegalArgumentException] {
      Curation.stratifiedTopK(df, Seq("stratum"), col("id"), k = 1, maxStrata = 50)
    }
    assert(e.getMessage.contains("distinct strata"))
    // at exactly the bound it still runs
    val small = (1 to 10).map(i => (i.toLong, s"s${i % 5}")).toDF("id", "stratum")
    assert(Curation.stratifiedTopK(small, Seq("stratum"), col("id"), k = 2,
      maxStrata = 5).count() === 10)
  }

  test("dsir: in-target docs outweigh out-of-target, weight matches brute force") {
    // target (en) tokens all clear minCount, so the target model folds
    // nothing and OOV backs off to the 1-floor — out-of-target tokens
    // are then strongly penalized
    val docs = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "le chat est sur le tapis le chat est sur le tapis", "fr"),
      (3L, "the cat sat on the mat", "en"),
      (4L, "le chat est la encore", "fr"),
      (5L, "the cat sat on the mat", "en")).toDF("doc_id", "text", "lang")
    val w = LanguageModel.importanceWeights(
      docs, "doc_id", "text", col("lang") === "en", minCount = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1's tokens have identical counts in both models (the=6, others
    // =3 each), so its weight is exactly n*(ln bTot - ln tTot)
    // = 6 * (ln 35 - ln 18)
    assert(math.abs(w(1L).getAs[Double]("log_weight") -
      6.0 * (math.log(35.0) - math.log(18.0))) < 1e-9)
    // every English doc ranks above every French one
    val en = Seq(1L, 3L, 5L).map(w(_).getAs[Double]("log_weight")).min
    val fr = Seq(2L, 4L).map(w(_).getAs[Double]("log_weight")).max
    assert(en > 0 && fr < 0)
    assert(w(1L).getAs[Long]("n_tok") === 6L)
  }
  test("bm25: evidence consistent, rational-idf ranks like log-idf, score formula") {
    val df = Seq(
      (1L, "spark join spark spark filter"),
      (2L, "spark join join window merge scan table row group key"),
      (3L, "filter filter filter filter"),
      (4L, "spark"),
      (5L, "other words only here")).toDF("doc_id", "text")
    val std = TextAnalysis.bm25TopK(df, "doc_id", "text",
      Seq("spark", "filter"), k = 10)
      .orderBy("term", "rank").collect()
    val rat = TextAnalysis.bm25TopK(df, "doc_id", "text",
      Seq("spark", "filter"), k = 10, rationalIdf = true)
      .orderBy("term", "rank").collect()
    // log is monotone on the RSJ odds: both idf forms rank identically
    assert(std.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq ===
      rat.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq)
    // 'spark': doc 1 (tf=3) first; tf tie between docs 2 and 4 breaks by
    // length normalization (dl=1 beats dl=10)
    val spark_ = std.filter(_.getString(0) == "spark")
    assert(spark_.map(_.getLong(2)).toSeq === Seq(1L, 4L, 2L))
    // evidence: df(spark)=3 over docs {1,2,4}; dl(doc1)=5
    val d1 = spark_.head
    assert((d1.getLong(3), d1.getLong(4), d1.getLong(5)) === ((3L, 5L, 3L)))
    // standard-form score matches the closed formula (N=5, S=24)
    val (n, s) = (5.0, 24.0)
    val (tf, dl, dfq) = (3.0, 5.0, 3.0)
    val idf = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
    val norm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl * n / s))
    assert(math.abs(d1.getDouble(6) - idf * norm) < 1e-12)
    // rational form: one exact-integer division
    val rd1 = rat.filter(_.getString(0) == "spark").head
    val num = (2 * 5 - 2 * 3 + 1).toDouble * 44 * 24 * 3
    val den = (2 * 3 + 1).toDouble * (20 * 24 * 3 + 6 * 24 + 18 * 5 * 5)
    assert(rd1.getDouble(6) === num / den)
  }

  test("zorder layout: matches the reference interleave, bijective on 32+32 bits") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def refInterleave(x: Long, y: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 32) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val pairsGen = Gen.listOfN(64, for {
      x <- Gen.oneOf(Gen.choose(0L, 0xFFFFFFFFL), Gen.oneOf(0L, 1L, 0xFFFFFFFFL))
      y <- Gen.oneOf(Gen.choose(0L, 0xFFFFFFFFL), Gen.oneOf(0L, 1L, 0xFFFFFFFFL))
    } yield (x, y))
    val prop = Prop.forAllNoShrink(pairsGen) { ps =>
      val out = ps.toDF("x", "y")
        .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y")).as("z"))
        .select(col("x"), col("y"), col("z"),
          Layout.unzorderX(col("z")).as("bx"), Layout.unzorderY(col("z")).as("by"))
        .collect()
      out.forall { r =>
        r.getLong(2) == refInterleave(r.getLong(0), r.getLong(1)) &&
          r.getLong(3) == r.getLong(0) && r.getLong(4) == r.getLong(1)
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4).withWorkers(1), prop)
    assert(result.passed, s"property failed: ${result.status}")
  }

  test("zorder layout: equal z-ranges are 2-D tiles; single-sort ranges are 1-D slabs") {
    // the bounding-box-tightness law behind LayoutBench's measured file
    // skipping: on a complete 256x256 grid, each aligned block of 1024
    // consecutive z values is EXACTLY a 32x32 tile (1024 = 4^5 — an
    // aligned Morton quadrant), so a range-partitioned z-sorted writer
    // gives every file a tile-shaped bbox and a band predicate on EITHER
    // dimension prunes to its tile row/column. An x-major sort's blocks
    // span the full y domain: y-bands prune nothing.
    val grid = spark.range(65536).select(
      (col("id") % 256).as("x"), expr("id DIV 256").as("y"))
    val tiles = grid
      .withColumn("b", floor(Layout.zorderKey(col("x"), col("y")) / 1024))
      .groupBy(col("b")).agg(count(lit(1)).as("n"),
        min("x").as("xlo"), max("x").as("xhi"),
        min("y").as("ylo"), max("y").as("yhi"))
      .collect()
    assert(tiles.length === 64)
    tiles.foreach { r =>
      assert(r.getLong(1) === 1024L)
      assert(r.getLong(3) - r.getLong(2) === 31L,
        s"block ${r.getLong(0)} x-span not a 32-tile")
      assert(r.getLong(5) - r.getLong(4) === 31L,
        s"block ${r.getLong(0)} y-span not a 32-tile")
    }
    def intersecting(stats: Array[org.apache.spark.sql.Row],
        lo: Int, hi: Int, loIdx: Int, hiIdx: Int): Int =
      stats.count(r => r.getLong(loIdx) <= hi && r.getLong(hiIdx) >= lo)
    // a 32-wide band on either dimension touches exactly one tile row/col
    assert(intersecting(tiles, 0, 31, 2, 3) === 8)
    assert(intersecting(tiles, 0, 31, 4, 5) === 8)
    val slabs = grid
      .withColumn("b", floor((col("x") * 256 + col("y")) / 1024))
      .groupBy(col("b")).agg(count(lit(1)).as("n"),
        min("x").as("xlo"), max("x").as("xhi"),
        min("y").as("ylo"), max("y").as("yhi"))
      .collect()
    assert(intersecting(slabs, 0, 31, 2, 3) === 8) // its own dimension: fine
    assert(intersecting(slabs, 0, 31, 4, 5) === 64) // the other: reads ALL
  }

  test("zorder scaled: matches plain-Scala reference, clamps out-of-domain") {
    // clamp INTO the domain BEFORE scaling (matches the operator: the
    // scaled product of a far-out value would overflow Long under ANSI)
    def refScaled(v: Long, lo: Long, hi: Long, bits: Int): Long =
      (math.min(math.max(v, lo), hi) - lo) * (1L << bits) / (hi - lo + 1)
    def refInterleave(x: Long, y: Long): Long =
      (0 until 32).foldLeft(0L)((z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    // the events domain shape that defeated the raw key (r15 LayoutBench:
    // 11-bit users x 17-bit events -> bbox(user)=0.997, no pruning)
    val (uLo, uHi, eLo, eHi) = (0L, 1499L, 0L, 99999L)
    val rows = Seq((0L, 0L), (1499L, 99999L), (700L, 50000L), (3L, 99999L),
      (2000L, 100500L), (-5L, -1L)) // last two: out-of-domain, must clamp
    val got = rows.toDF("u", "e")
      .select(Layout.zorderKeyScaled(col("u"), uLo, uHi, col("e"), eLo, eHi).as("z"))
      .collect().map(_.getLong(0))
    val want = rows.map { case (u, e) =>
      refInterleave(refScaled(u, uLo, uHi, 16), refScaled(e, eLo, eHi, 16)) }
    assert(got.toSeq === want)
    // normalization puts both dimensions on the same 16-bit grid: the low
    // corner maps to z = 0, and out-of-domain rows clamp to EXACTLY the
    // key of the nearest in-domain corner (clamp-before-scale) — also
    // exercise a value whose unclamped product would overflow a Long
    assert(got(0) === 0L)
    assert(got(4) === got(1))
    assert(got(5) === got(0))
    val far = Seq((Long.MaxValue / 2, Long.MaxValue / 2)).toDF("u", "e")
      .select(Layout.zorderKeyScaled(col("u"), uLo, uHi, col("e"), eLo, eHi).as("z"))
      .collect()(0).getLong(0)
    assert(far === got(1))
  }

  test("rrf fusion: exact rational scores, single-list items, tie-break by item") {
    val a = Seq(("q", 10L, 1), ("q", 11L, 2), ("q", 12L, 3)).toDF("query", "item", "rank")
    val b = Seq(("q", 11L, 1), ("q", 13L, 2)).toDF("query", "item", "rank")
    val out = Relational.rrfFusion(a, b, "query", "item", "rank", kRrf = 60, topK = 10)
      .collect().map(r => r.getLong(2) -> r).toMap
    // both lists: 1/(60+2) + 1/(60+1) = (120+2+1)/((60+2)(60+1)) = 123/3782
    assert((out(11L).getLong(5), out(11L).getLong(6)) === ((123L, 3782L)))
    assert(out(11L).getDouble(7) === 123.0 / 3782.0)
    // single-list: 1/(60+1)
    assert((out(10L).getLong(5), out(10L).getLong(6)) === ((1L, 61L)))
    assert(out(10L).isNullAt(4) && out(13L).isNullAt(3))
    // fused order: 123/3782 > 1/61 > 1/62 > 1/63
    assert(Seq(11L, 10L, 13L, 12L).zipWithIndex.forall { case (item, i) =>
      out(item).getInt(1) == i + 1 })
    // equal scores (same rank, different lists) break by item id
    val o2 = Relational.rrfFusion(
      Seq(("q", 5L, 1)).toDF("query", "item", "rank"),
      Seq(("q", 3L, 1)).toDF("query", "item", "rank"),
      "query", "item", "rank").collect().sortBy(_.getInt(1))
    assert(o2.map(_.getLong(2)).toSeq === Seq(3L, 5L))
  }

  test("rrf fusion property: matches an exact-BigInt-rational reference on random rankings") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random two-list rankings over a small item universe; the reference
    // fuses and orders EXACTLY (BigInt cross-multiplication), proving the
    // operator's double-division ordering never swaps distinct rationals
    // at these magnitudes (scaladoc argument)
    val caseGen = for {
      nq <- Gen.choose(1, 3)
      lists <- Gen.listOfN(nq, for {
        aItems <- Gen.someOf(0L to 30L)
        bItems <- Gen.someOf(0L to 30L)
      } yield (aItems.take(10).toSeq, bItems.take(10).toSeq))
    } yield lists
    val prop = Prop.forAllNoShrink(caseGen) { lists =>
      val a = lists.zipWithIndex.flatMap { case ((as, _), q) =>
        as.zipWithIndex.map { case (it, i) => (s"q$q", it, i + 1) } }
      val b = lists.zipWithIndex.flatMap { case ((_, bs), q) =>
        bs.zipWithIndex.map { case (it, i) => (s"q$q", it, i + 1) } }
      val got = Relational.rrfFusion(
          (if (a.isEmpty) Seq(("qx", -1L, 1)) else a).toDF("query", "item", "rank"),
          (if (b.isEmpty) Seq(("qx", -1L, 1)) else b).toDF("query", "item", "rank"),
          "query", "item", "rank", kRrf = 60, topK = 1000)
        .collect()
        .map(r => (r.getString(0), r.getLong(2)) -> (r.getInt(1), r.getLong(5), r.getLong(6)))
        .toMap
      // exact reference: rational compare by BigInt cross-multiplication
      val refAll = lists.zipWithIndex.flatMap { case ((as, bs), q) =>
        val ra = as.zipWithIndex.map { case (it, i) => it -> (i + 1L) }.toMap
        val rb = bs.zipWithIndex.map { case (it, i) => it -> (i + 1L) }.toMap
        val fused = (ra.keySet ++ rb.keySet).toSeq.map { it =>
          val (num, den) = (ra.get(it), rb.get(it)) match {
            case (Some(x), Some(y)) => (120L + x + y, (60L + x) * (60L + y))
            case (Some(x), None) => (1L, 60L + x)
            case (None, Some(y)) => (1L, 60L + y)
            case _ => sys.error("unreachable")
          }
          (it, num, den)
        }
        val ordered = fused.sortWith { case ((i1, n1, d1), (i2, n2, d2)) =>
          val cmp = (BigInt(n1) * d2).compare(BigInt(n2) * d1)
          if (cmp != 0) cmp > 0 else i1 < i2
        }
        ordered.zipWithIndex.map { case ((it, n, d), i) =>
          (s"q$q", it) -> (i + 1, n, d) }
      }.toMap
      refAll.forall { case (k, v) => got.get(k).contains(v) } &&
        got.keySet.filterNot(_._1 == "qx") == refAll.keySet
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), prop)
    assert(result.passed, s"property failed: ${result.status}")
  }

  test("bm25 adversarial: df=N corpus, single-doc corpus, large-tf exact score") {
    // df = N: the term is in EVERY document — the rational idf odds
    // degenerate to 1/(2N+1) but stay positive; ranking falls to the
    // tf/length normalization alone
    val allDocs = Seq(
      (1L, "alpha beta"), (2L, "alpha alpha gamma"), (3L, "alpha")).toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopK(allDocs, "doc_id", "text",
      Seq("alpha"), k = 3, rationalIdf = true).orderBy("rank").collect()
    assert(r.length === 3 && r.forall(_.getLong(5) === 3L) && r.forall(_.getDouble(6) > 0))
    // dl=1 tf=1 beats dl=3 tf=2 beats dl=2 tf=1 under k1=6/5, b=3/4
    assert(r.map(_.getLong(2)).toSeq === Seq(3L, 2L, 1L))
    // single-document corpus: N = df = 1 -> num factor (2N-2df+1) = 1
    val single = Seq((7L, "solo solo tune")).toDF("doc_id", "text")
    val s = TextAnalysis.bm25TopK(single, "doc_id", "text",
      Seq("solo"), k = 5, rationalIdf = true).collect()
    assert(s.length === 1 && s(0).getLong(2) === 7L && s(0).getDouble(6) > 0)
    // large tf (1e5 repeated tokens): the emitted score must still be the
    // single IEEE division of the exact integer num/den — recomputed here
    // in BigInt and checked for Long-exactness first
    val bigTf = 100000
    val big = Seq(
      (1L, Seq.fill(bigTf)("tok").mkString(" ")),
      (2L, "tok other words here")).toDF("doc_id", "text")
    val b = TextAnalysis.bm25TopK(big, "doc_id", "text",
      Seq("tok"), k = 2, rationalIdf = true).collect()
      .map(r => r.getLong(2) -> r).toMap
    val (nDocs, sTot) = (2L, bigTf.toLong + 4L)
    def rational(tf: Long, dl: Long, df: Long): Double = {
      val num = BigInt(2 * nDocs - 2 * df + 1) * 44 * sTot * tf
      val den = BigInt(2 * df + 1) *
        (BigInt(20) * sTot * tf + BigInt(6) * sTot + BigInt(18) * dl * nDocs)
      assert(num.isValidLong && den.isValidLong, "exact-integer contract overflowed")
      num.toLong.toDouble / den.toLong.toDouble
    }
    assert(b(1L).getDouble(6) === rational(bigTf.toLong, bigTf.toLong, 2L))
    assert(b(2L).getDouble(6) === rational(1L, 4L, 2L))
  }

  test("weighted hash sample: all-integer decision reproduces, w=0 excluded, cap at p=1") {
    val df = (0L to 1999L).map(i => (i, i % 100)).toDF("id", "w")
    val kept = Curation.weightedHashSample(df, col("id"), col("w"), 1, 64)
      .select("id").collect().map(_.getLong(0)).toSet
    def u32(k: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val expect = (0L to 1999L)
      .filter(i => u32(i) * 64L < (i % 100) * 4294967296L).toSet
    assert(kept === expect)
    // w = 0 rows can never be kept; w >= rateDen rows always are (p = 1)
    assert(!kept.exists(_ % 100 == 0))
    val always = (0L to 1999L).filter(i => i % 100 >= 64)
    assert(always.forall(kept))
  }

  test("weighted hash sample: oversized weight errors instead of wrapping") {
    // weight*rateNum >= 2^31 would wrap the Long multiply (*2^32) under
    // non-ANSI Spark and silently flip keep decisions — the guard makes
    // it an error in the plan (r14 ADVICE)
    val bad = Seq((1L, 1L << 20), (2L, 5L)).toDF("id", "w")
    val e = intercept[Exception] {
      Curation.weightedHashSample(bad, col("id"), col("w"), 4096, 4096).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("weightedHashSample")), messages(e).mkString("; "))
    // at the boundary: max admissible weight passes, one above errors
    val maxW = ((1L << 31) - 1) / 4096
    val edge = Seq((1L, maxW)).toDF("id", "w")
    Curation.weightedHashSample(edge, col("id"), col("w"), 4096, 4096).collect()
    val over = Seq((1L, maxW + 1)).toDF("id", "w")
    val e2 = intercept[Exception] {
      Curation.weightedHashSample(over, col("id"), col("w"), 4096, 4096).collect()
    }
    assert(messages(e2).exists(_.contains("weightedHashSample")))
    // NULL weights keep their SQL semantics: dropped, not an error
    val withNull = Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "w")
    val keptN = Curation.weightedHashSample(withNull, col("id"), col("w"), 4096, 4096)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!keptN.contains(2L))
    // the bound is two-sided: a large NEGATIVE weight would wrap
    // w*rateNum*2^32 to a huge positive and keep (almost) every row —
    // it must error; a small negative weight is a plain drop (p = 0)
    val bigNeg = Seq((1L, -600000000L)).toDF("id", "w")
    val e3 = intercept[Exception] {
      Curation.weightedHashSample(bigNeg, col("id"), col("w"), 4, 4096).collect()
    }
    assert(messages(e3).exists(_.contains("weightedHashSample")))
    val smallNeg = Seq((1L, -5L), (2L, 4096L)).toDF("id", "w")
    val keptNeg = Curation.weightedHashSample(smallNeg, col("id"), col("w"), 4096, 4096)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptNeg === Set(2L))
  }

  test("chunk tokens: stride spacing, tail alignment, full coverage, short docs") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 32).map(i => s"s$i").mkString(" ")),
      (3L, (1 to 33).map(i => s"u$i").mkString(" ")),
      (4L, "one two"),
      (5L, "")).toDF("doc_id", "text")
    val out = Curation.chunkTokens(docs, "doc_id", "text",
      window = 32, stride = 24).collect().groupBy(_.getLong(0))
    // 100 tokens: aligned starts 1/25/49 + tail-aligned 69 (ends at 100)
    val d1 = out(1L).sortBy(_.getInt(1))
    assert(d1.map(_.getInt(1)).toSeq === Seq(1, 2, 3, 4)) // chunk_id 1-based
    assert(d1.map(_.getInt(2)).toSeq === Seq(1, 25, 49, 69))
    assert(d1.map(_.getInt(3)).toSeq === Seq(32, 32, 32, 32))
    assert(d1.head.getString(4).startsWith("t1 t2 "))
    assert(d1.last.getString(4).endsWith(" t100"))
    // coverage: chunk c covers tokens [start, start+31] - union is 1..100
    val covered = d1.flatMap(r => r.getInt(2) to (r.getInt(2) + 31)).toSet
    assert(covered === (1 to 100).toSet)
    // exactly window tokens: one chunk
    assert(out(2L).length === 1 && out(2L).head.getInt(3) === 32)
    // window+1: aligned [1] + tail-aligned 2
    assert(out(3L).map(_.getInt(2)).sorted.toSeq === Seq(1, 2))
    // shorter than window: the whole doc, n_tokens = real count
    assert(out(4L).length === 1 && out(4L).head.getInt(3) === 2 &&
      out(4L).head.getString(4) === "one two")
    // empty text: single empty chunk (the [""] token array)
    assert(out(5L).length === 1 && out(5L).head.getString(4) === "")
  }
  test("histogram quantile sketch: shard merge == one-shot build, bounded error, clamps") {
    import org.apache.spark.sql.DataFrame
    val df = (1L to 1000L).map(i => (i, (i % 4).toString, i * 7 % 600))
      .toDF("id", "g", "v")
    val whole = Sketches.histBuild(df, col("v"), Seq("g"), 0, 600, 120)
    val a = Sketches.histBuild(df.where(col("id") % 2 === 0), col("v"), Seq("g"), 0, 600, 120)
    val b = Sketches.histBuild(df.where(col("id") % 2 === 1), col("v"), Seq("g"), 0, 600, 120)
    val merged = Sketches.histMerge(Seq("g"), a, b)
    def key(d: DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // mergeability is EXACT: vector addition of BIGINT counts
    assert(key(merged) === key(whole))
    // estimates sit within one bucket width of the exact percentile
    val est = Sketches.histQuantiles(whole, Seq("g"), 0, 600, 120, Seq(50))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val exact = df.groupBy(col("g")).agg(expr("percentile(v, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    est.foreach { case (g, e) =>
      assert(math.abs(e - exact(g)) <= 5.0, s"group $g: $e vs exact ${exact(g)}")
    }
    // out-of-domain values clamp into the edge buckets; NULLs are
    // excluded (a NULL bucket row would bias quantiles and sort
    // differently across engines' window NULL orderings)
    val oob = Seq(("a", java.lang.Long.valueOf(-50L)),
      ("a", java.lang.Long.valueOf(1000L)),
      ("a", null.asInstanceOf[java.lang.Long])).toDF("g", "v")
    val edgeRows = Sketches.histBuild(oob, col("v"), Seq("g"), 0, 600, 120).collect()
    assert(edgeRows.map(_.getInt(1)).sorted.toSeq === Seq(0, 119))
    assert(edgeRows.map(_.getLong(2)).sum === 2L) // the NULL row is gone
  }

  // ---- BPE tokenizer ----

  /** Reference greedy left-to-right merge of one pair (Sennrich scan). */
  private def refMergePair(s: List[String], l: String, r: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += (l + r); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toList
  }

  /** Reference BPE trainer over a word-frequency map. */
  private def refBpeTrain(words: Map[String, Long], numMerges: Int,
      minPair: Long): Seq[(Int, String, String, Long)] = {
    var ws: Seq[(List[String], Long)] =
      words.toSeq.map { case (w, c) => (w.toList.map(String.valueOf(_)), c) }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      ws.foreach { case (s, c) =>
        s.zip(s.drop(1)).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + c) }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), pc) = pairs.toSeq.minBy { case ((l, r), pc) => (-pc, l, r) }
        if (pc < minPair) done = true
        else {
          out += ((rank, l, r, pc))
          ws = ws.map { case (s, c) => (refMergePair(s, l, r), c) }
          rank += 1
        }
      }
    }
    out.toSeq
  }

  test("bpe: fold merge == reference greedy scan on random pair/word combos") {
    val rnd = new scala.util.Random(41)
    val alpha = Array("a", "b", "c")
    val cases = (0 until 200).map { i =>
      val w = (0 until (1 + rnd.nextInt(9))).map(_ => alpha(rnd.nextInt(3))).mkString
      (i.toLong, w, alpha(rnd.nextInt(3)), alpha(rnd.nextInt(3)))
    }
    cases.groupBy(c => (c._3, c._4)).foreach { case ((l, r), group) =>
      val df = group.map(c => (c._1, c._2)).toDF("id", "w")
        .select(col("id"), transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("s"))
      val got = df.select(col("id"), Bpe.mergePairCol(col("s"), l, r).as("m"))
        .collect().map(row => row.getLong(0) -> row.getSeq[String](1).toList).toMap
      group.foreach { case (id, w, _, _) =>
        assert(got(id) === refMergePair(w.toList.map(String.valueOf(_)), l, r),
          s"word=$w pair=($l,$r)")
      }
    }
  }

  test("bpe train: matches the reference trainer, invariant under partitioning") {
    val docs = Seq(
      "the cat sat on the mat", "the bat and the cat", "a mat on a hat",
      "the the the cat cat", "rat bat cat mat hat sat", "on and on and on")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val wf = Bpe.wordFreqs(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refBpeTrain(wf, numMerges = 8, minPair = 2L)
    val got = Bpe.train(docs, "text", numMerges = 8, minPairCount = 2L)
      .map(m => (m.rank, m.lhs, m.rhs, m.pairCount))
    assert(got === expect)
    // the DISTRIBUTED loop (driver path disabled) must be bit-identical
    // to the local path, and invariant under partitioning
    val gotDist = Bpe.train(docs.repartition(13), "text", 8, 2L,
      driverTrainMaxVocab = 0)
      .map(m => (m.rank, m.lhs, m.rhs, m.pairCount))
    assert(gotDist === expect) // integer pair counts + total tiebreak
    spark.catalog.clearCache()
  }

  test("bpe incremental trainer == naive recount trainer (r17: the production-vocab path)") {
    // the incremental pair-index trainer must be BIT-IDENTICAL to the
    // naive recount spec oracle: same counts at every step -> same argmax
    // sequence. Random corpora over a small alphabet maximize merge-site
    // interactions (overlaps, l==r runs, pairs whose count hits zero).
    val rnd = new scala.util.Random(1317)
    for (trial <- 0 until 30) {
      val alpha = "abcd".map(String.valueOf(_))
      val words = (0 until (5 + rnd.nextInt(40))).map { _ =>
        ((0 until (1 + rnd.nextInt(10)))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString,
          1L + rnd.nextInt(9))
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
      val merges = rnd.nextInt(60)
      val minPair = 1L + rnd.nextInt(3)
      val inc = Bpe.trainLocal(words, merges, minPair)
      val naive = Bpe.trainLocalNaive(words, merges, minPair)
      assert(inc === naive, s"trial=$trial merges=$merges minPair=$minPair " +
        s"words=${words.take(8).mkString(",")}...")
    }
    // unicode symbols (surrogate pairs) + the utf8 tiebreak
    val uni = Array(("𝕏𝕐𝕏", 3L), ("é𝕏é", 3L), ("zz", 3L), ("éz", 2L))
    assert(Bpe.trainLocal(uni, 10, 2L) === Bpe.trainLocalNaive(uni, 10, 2L))
    // the 4096 cap is gone: a deep merge run terminates by exhaustion
    val deep = Array(("a" * 64, 100L), ("b" + "a" * 40, 50L))
    val dm = Bpe.trainLocal(deep, 10000, 1L)
    assert(dm === Bpe.trainLocalNaive(deep, 10000, 1L))
    assert(dm.nonEmpty && dm.length < 10000) // exhausts, not caps
  }

  test("bpe vocab prune: no-op cut == unpruned, real cut == training on the cut table, all paths agree (r18)") {
    val docs = Seq(
      "the cat sat on the mat", "the bat and the cat", "a mat on a hat",
      "the the the cat cat", "rat bat cat mat hat sat", "on and on and on",
      "rare singleton wordhere")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val wf = Bpe.wordFreqs(docs, "text").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val full = Bpe.train(docs, "text", 8, 2L)
    // a cut that drops nothing: bit-identical merges
    assert(Bpe.train(docs, "text", 8, 2L, vocabMinCount = 1L) === full)
    assert(Bpe.train(docs, "text", 8, 2L, vocabTopN = wf.length) === full)
    // a REAL min-count cut: train-with-prune == train on the externally
    // pruned table (the documented drift is exactly the dropped words'
    // pair mass — the equivalence pins the cut itself)
    val pruned2 = Bpe.pruneWordFreqsLocal(wf, 2L, 0)
    assert(pruned2.length < wf.length)
    assert(Bpe.train(docs, "text", 8, 2L, vocabMinCount = 2L) ===
      Bpe.trainFromWordFreqs(pruned2, 8, 2L))
    // topN cut: the distributed total order (cnt DESC, binary word ASC)
    // matches the local sort + utf8 tiebreak
    val top5 = Bpe.pruneWordFreqsLocal(wf, 1L, 5)
    assert(top5.length === 5)
    assert(Bpe.train(docs, "text", 8, 2L, vocabTopN = 5) ===
      Bpe.trainFromWordFreqs(top5, 8, 2L))
    // and the DISTRIBUTED loop sees the same pruned table
    assert(Bpe.train(docs, "text", 8, 2L, driverTrainMaxVocab = 0,
      vocabMinCount = 2L) === Bpe.trainFromWordFreqs(pruned2, 8, 2L))
    spark.catalog.clearCache()
  }

  test("bpe distributed fallback refuses a silent multi-thousand-job train (r18 guard)") {
    val docs = Seq((0L, "aa bb aa bb cc")).toDF("id", "text")
    // over the driver bound AND over the distributed merge bound: refuse
    // with a remedy instead of launching ~2 jobs per merge
    val e = intercept[IllegalArgumentException] {
      Bpe.train(docs, "text", numMerges = 300, driverTrainMaxVocab = 1)
    }
    assert(e.getMessage.contains("jobs") &&
      e.getMessage.contains("vocabMinCount"))
    // under the merge bound the distributed loop still runs
    assert(Bpe.train(docs, "text", 2, 2L, driverTrainMaxVocab = 1).nonEmpty)
    spark.catalog.clearCache()
  }

  test("bpe byte-level: hex byte alphabet, multi-byte boundaries, all paths identical, tokens round-trip (r18)") {
    // é = C3 A9, α = CE B1, β = CE B2 — multi-byte letters exercise
    // merges across byte boundaries inside one code point
    val docs = Seq((0L, "café café café beta beta"), (1L, "αβ αβ αβ x"),
      (2L, ""), (3L, "CAFÉ!!"))
      .toDF("id", "text")
    val wf = Bpe.wordFreqs(docs, "text").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val inc = Bpe.trainLocal(wf, 12, 2L, byteLevel = true)
    val naive = Bpe.trainLocalNaive(wf, 12, 2L, byteLevel = true)
    assert(inc === naive)
    val viaTrain = Bpe.train(docs, "text", 12, 2L, byteLevel = true)
    assert(viaTrain === inc)
    val dist = Bpe.train(docs.repartition(7), "text", 12, 2L,
      driverTrainMaxVocab = 0, byteLevel = true)
    assert(dist === inc)
    assert(inc.nonEmpty)
    // every symbol is uppercase hex of whole bytes
    inc.foreach { m =>
      assert((m.lhs + m.rhs).matches("[0-9A-F]+") &&
        m.lhs.length % 2 == 0 && m.rhs.length % 2 == 0, m.toString) }
    // untrained byte encode = per-byte hex split: 'café' -> 63 61 66 C3 A9
    val raw = docs.select(col("id"),
      Bpe.encode(col("text"), Seq.empty, byteLevel = true).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(raw(0L).take(5) === List("63", "61", "66", "C3", "A9"))
    // trained tokens reassemble to the words' exact UTF-8 bytes in order
    // (byte fallback: no OOV is possible, nothing is dropped)
    def hexOf(s: String) =
      s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    val toks = docs.select(col("id"),
      Bpe.encode(col("text"), viaTrain, byteLevel = true).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(toks(0L).mkString === hexOf("café") * 3 + hexOf("beta") * 2)
    assert(toks(1L).mkString === hexOf("αβ") * 3 + hexOf("x"))
    assert(toks(2L) === Nil)
    assert(toks(3L).mkString === hexOf("café")) // lowercased, punct stripped
    spark.catalog.clearCache()
  }

  test("bpe encode rejects ill-formed merge tables (space symbols, components out of order)") {
    val docs = Seq((0L, "ab")).toDF("id", "text")
    def run(ms: Seq[(String, String)]): Unit = {
      docs.select(Bpe.encode(col("text"),
        ms.zipWithIndex.map { case ((l, r), i) => Bpe.Merge(i + 1, l, r, 0L) }))
        .collect()
      ()
    }
    // a space inside a symbol collides the kernel's "l r" rank keys
    assert(intercept[IllegalArgumentException] { run(Seq(("a b", "c"))) }
      .getMessage.contains("space"))
    // a component that is neither a base code point nor an earlier
    // merge's output cannot come from training
    assert(intercept[IllegalArgumentException] { run(Seq(("ab", "c"))) }
      .getMessage.contains("earlier merge"))
    assert(intercept[IllegalArgumentException] {
      run(Seq(("a", "b"), ("c", "bd"))) }
      .getMessage.contains("earlier merge"))
    // well-formed passes: components are base chars or earlier outputs
    run(Seq(("a", "b"), ("ab", "c"), ("𝕏", "a")))
  }

  test("bpe encode: min-rank kernel == sequential rank-order application") {
    // the oracle's unrolled form applies each merge once in rank order;
    // the kernel loops on the lowest-ranked pair present — equivalent
    // because a merge's components always predate its own output symbol
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "batter chatter"),
      (2L, ""), (3L, "aaaa abab"), (4L, "TH-E the: TheThe"))
      .toDF("id", "text")
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "t"), ("a", "a"),
      ("c", "at"), ("a", "b"), ("ab", "ab"))
    val got = docs.select(col("id"),
      Bpe.encode(col("text"), merges.zipWithIndex.map { case ((l, r), i) =>
        Bpe.Merge(i + 1, l, r, 0L) }).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    def seqApply(w: String): List[String] = {
      var s = w.toList.map(String.valueOf(_))
      merges.foreach { case (l, r) => s = refMergePair(s, l, r) }
      s
    }
    def tokensOf(t: String): List[String] =
      t.toLowerCase.replaceAll("[^\\p{L}\\p{N}]+", " ").trim
        .split(" ").filter(_.nonEmpty).toList
    for ((id, text) <- Seq((0L, "the cat sat on the mat"), (1L, "batter chatter"),
        (2L, ""), (3L, "aaaa abab"), (4L, "TH-E the: TheThe"))) {
      assert(got(id) === tokensOf(text).flatMap(seqApply), s"doc $id")
    }
    // spot semantics: trained pairs actually fuse
    assert(got(0L).contains("the") && got(0L).contains("cat"))
    assert(got(3L) === List("aa", "aa", "abab"))
  }

  test("bpe encode: untrained = code-point split, matches column substr (unicode)") {
    // supplementary-plane letters (surrogate pairs) must stay one symbol
    // and stay in-word — the kernel's scan vs the column formulation
    val docs = Seq((1L, "héllo wörld 𝕏𝕐ab x"),
      (2L, "ÉCOLE café 𝔸1 -- !!"), (3L, "")).toDF("id", "text")
    val kernel = docs.select(col("id"), Bpe.encode(col("text"), Seq.empty).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val colSide = docs.select(col("id"),
      flatten(transform(
        filter(split(TextAnalysis.normalize(col("text")), " "),
          w => length(w) > 0),
        w => transform(sequence(lit(1), length(w)),
          i => w.substr(i, lit(1))))).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(kernel === colSide)
    assert(kernel(1L).contains("𝕏")) // 𝕏 is ONE symbol
  }

  test("bpe end-to-end: corpus-trained merges encode the corpus consistently") {
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, s"alpha beta alpha gamma doc$i beta alpha")).toDF("id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 10, minPairCount = 2L)
    assert(merges.nonEmpty && merges.map(_.rank) === (1 to merges.length))
    // after 10 merges over this skewed corpus, 'alpha' fuses to one token
    val toks = docs.select(explode(Bpe.encode(col("text"), merges)).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(toks.contains("alpha") && toks("alpha") === 90L)
    spark.catalog.clearCache()
  }

  // ---- exact-substring span dedup ----

  /** Reference span-dedup: first occurrence (doc order, then position)
    * kept, later occurrences cut; union of overlapping windows. Returns
    * (n_tokens, cut_tokens, kept_text) per doc.
    */
  private def refSpanCut(docs: Seq[(Long, String)],
      k: Int): Map[Long, (Long, Long, String)] = {
    val tok = docs.sortBy(_._1).map { case (id, t) =>
      id -> Option(t).getOrElse("")
        .toLowerCase.replaceAll("[^\\p{L}\\p{N}]+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq }
    val seen = scala.collection.mutable.Set[String]()
    tok.map { case (id, ts) =>
      val dup = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      for (pos <- 1 to math.max(0, ts.length - k + 1)) {
        val win = ts.slice(pos - 1, pos - 1 + k).mkString(" ")
        if (!seen.add(win)) dup += ((pos, pos + k - 1))
      }
      val covered = dup.flatMap { case (a, b) => a to b }.toSet
      val kept = (1 to ts.length).filterNot(covered).map(p => ts(p - 1))
      id -> (ts.length.toLong, covered.size.toLong, kept.mkString(" "))
    }.toMap
  }

  test("span dedup cut: both key paths match the reference interval union") {
    val boiler = "all rights reserved contact us for more information today"
    val docs = Seq(
      (1L, s"unique alpha beta gamma delta epsilon zeta eta theta $boiler"),
      (2L, s"$boiler totally different middle content here now $boiler"), // self-dup too
      (3L, s"fresh words only nothing repeated in this document at all"),
      (4L, s"unique alpha beta gamma delta epsilon zeta eta theta $boiler"), // full dup of 1
      (5L, ""), (6L, "short doc"), (7L, null.asInstanceOf[String]))
    val expect = refSpanCut(docs, k = 8)
    for (hashed <- Seq(true, false)) {
      val got = Dedup.spanDedupCut(docs.toDF("doc_id", "text"),
        "doc_id", "text", k = 8, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === expect.view.mapValues(v => (v._1, v._2)).toMap,
        s"hashWindows=$hashed")
      spark.catalog.clearCache()
      val text = Dedup.spanDedupText(docs.toDF("doc_id", "text"),
        "doc_id", "text", k = 8, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(text === expect.view
        .mapValues(v => (v._1 - v._2, v._3)).toMap, s"text hashWindows=$hashed")
      spark.catalog.clearCache()
    }
    // doc 4 is fully covered by doc 1's windows
    assert(expect(4L)._1 === expect(4L)._2 && expect(4L)._3 === "")
    assert(expect(3L)._2 === 0L)
    assert(expect(5L) === ((0L, 0L, "")))
  }

  test("incremental span dedup: delta vs base index == recompute-on-union, index merge folds (r18)") {
    val boiler = "all rights reserved contact us for more information today"
    val base = Seq(
      (1L, s"unique alpha beta gamma delta epsilon zeta eta theta $boiler"),
      (3L, "fresh words only nothing repeated in this document at all"),
      (5L, s"$boiler totally different middle content here now $boiler"))
    val delta = Seq(
      // union-first is a BASE doc: cut
      (2L, s"unique alpha beta gamma delta epsilon zeta eta theta $boiler"),
      // fresh in delta, duplicated later IN the delta
      (4L, "delta only content none repeated anywhere in the corpus here"),
      (9L, "delta only content none repeated anywhere in the corpus here"),
      // shares base content at a LOWER id than some base docs
      (0L, "fresh words only nothing repeated in this document at all"),
      (6L, s"$boiler and then something new entirely for this one"),
      (7L, ""), (8L, null.asInstanceOf[String]))
    val union = (base ++ delta).toDF("doc_id", "text")
    val deltaIds = delta.map(_._1).toSet
    for (hashed <- Seq(true, false)) {
      val expect = Dedup.spanDedupCut(union, "doc_id", "text",
        k = 8, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        .filter { case (id, _) => deltaIds(id) }
      spark.catalog.clearCache()
      val idx = Dedup.spanDedupIndex(base.toDF("doc_id", "text"),
        "doc_id", "text", k = 8, hashWindows = hashed)
      val got = Dedup.spanDedupCutDelta(delta.toDF("doc_id", "text"),
        "doc_id", "text", idx, k = 8, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === expect, s"hashWindows=$hashed")
      spark.catalog.clearCache()
      // fold law: merge(idx(base), idx(delta)) == idx(union)
      val merged = Dedup.spanDedupIndexMerge(
        Dedup.spanDedupIndex(base.toDF("doc_id", "text"), "doc_id", "text",
          k = 8, hashWindows = hashed),
        Dedup.spanDedupIndex(delta.toDF("doc_id", "text"), "doc_id", "text",
          k = 8, hashWindows = hashed))
        .collect().map(r => (r.get(0).toString, r.getLong(1), r.getInt(2))).toSet
      val full = Dedup.spanDedupIndex(union, "doc_id", "text",
        k = 8, hashWindows = hashed)
        .collect().map(r => (r.get(0).toString, r.getLong(1), r.getInt(2))).toSet
      assert(merged === full, s"index fold hashWindows=$hashed")
      spark.catalog.clearCache()
      // TRANSFORM form (r18): delta kept text == recompute-on-union's
      // kept text restricted to delta ids
      val expectText = Dedup.spanDedupText(union, "doc_id", "text",
        k = 8, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap.filter { case (id, _) => deltaIds(id) }
      spark.catalog.clearCache()
      val idxT = Dedup.spanDedupIndex(base.toDF("doc_id", "text"),
        "doc_id", "text", k = 8, hashWindows = hashed)
      val gotText = Dedup.spanDedupTextDelta(delta.toDF("doc_id", "text"),
        "doc_id", "text", idxT, k = 8, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(gotText === expectText, s"text delta hashWindows=$hashed")
      spark.catalog.clearCache()
    }
    // doc 2 is fully covered by base doc 1; doc 9 by delta doc 4; doc 0
    // KEEPS its text (it is the union-first against base doc 3)

    // parameter-drift guards (r18 review): a key-mode or window-length
    // mismatch between the persisted index and the delta run must REFUSE
    // instead of silently keeping/cutting wrong spans
    val baseDf = base.toDF("doc_id", "text")
    val deltaDf = delta.toDF("doc_id", "text")
    val idxS = Dedup.spanDedupIndex(baseDf, "doc_id", "text",
      k = 8, hashWindows = false)
    assert(intercept[IllegalArgumentException] {
      Dedup.spanDedupCutDelta(deltaDf, "doc_id", "text", idxS,
        k = 8, hashWindows = true)
    }.getMessage.contains("key mode"))
    assert(intercept[IllegalArgumentException] {
      Dedup.spanDedupCutDelta(deltaDf, "doc_id", "text", idxS,
        k = 6, hashWindows = false)
    }.getMessage.contains("k=8"))
    assert(intercept[IllegalArgumentException] {
      Dedup.spanDedupIndexMerge(idxS,
        Dedup.spanDedupIndex(baseDf, "doc_id", "text",
          k = 6, hashWindows = false))
    }.getMessage.contains("different"))
    // the k stamp survives a parquet round trip (field metadata rides in
    // Spark's parquet schema property) — the persisted-state contract
    val dir = java.nio.file.Files.createTempDirectory("span_idx").toFile
    idxS.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val reloaded = spark.read.parquet(dir.getAbsolutePath)
    assert(intercept[IllegalArgumentException] {
      Dedup.spanDedupCutDelta(deltaDf, "doc_id", "text", reloaded,
        k = 6, hashWindows = false)
    }.getMessage.contains("k=8"))
    spark.catalog.clearCache()
  }

  test("multi-granularity span dedup: superset of fixed-k, fine stage cuts pair-local short spans, key paths identical") {
    // doc 2 shares a 6-token COARSE run with doc 1 (makes the pair) and
    // a separate 3-token run only the FINE stage can cut; doc 3 shares
    // the same 3-token run but NO coarse run — no pair, so it must stay
    // uncut (the fine stage is pair-scoped, not global)
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
      (2L, "aa bb cc dd ee ff x1 x2 x3 x4 jj kk ll y1"),
      (3L, "z1 z2 z3 jj kk ll z4 z5 z6 z7 z8 z9"),
      (4L, ""), (5L, null.asInstanceOf[String]))
    val df = docs.toDF("doc_id", "text")
    val fixedCut = Dedup.spanDedupCut(df, "doc_id", "text",
      k = 6, hashWindows = false)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val multis = Seq(true, false).map { hashed =>
      val m = Dedup.spanDedupCutMulti(df, "doc_id", "text",
        kCoarse = 6, kFine = 3, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      spark.catalog.clearCache()
      m
    }
    assert(multis(0) === multis(1)) // hashed == string keys
    val multi = multis(1)
    // SUPERSET contract: every doc's multi cut >= the fixed-kCoarse cut
    fixedCut.foreach { case (id, c) =>
      assert(multi(id)._2 >= c, s"doc $id: multi ${multi(id)._2} < fixed $c")
    }
    // doc 2: coarse cut = 6 (the aa..ff run vs doc 1), fine adds the
    // jj kk ll run (3 tokens) -> 9 of 14
    assert(fixedCut(2L) === 6L)
    assert(multi(2L) === ((14L, 9L)))
    // doc 3: no coarse pair -> fine never runs -> nothing cut
    assert(multi(3L)._2 === 0L)
    // doc 1 is the keeper on every match: nothing cut
    assert(multi(1L)._2 === 0L)
    assert(multi(4L) === ((0L, 0L)))
  }

  test("multi-granularity span-dedup TRANSFORM: kept text matches the accounting, splices mid-doc cuts, key paths identical") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
      (2L, "aa bb cc dd ee ff x1 x2 x3 x4 jj kk ll y1"),
      (3L, "z1 z2 z3 jj kk ll z4 z5 z6 z7 z8 z9"),
      (4L, ""), (5L, null.asInstanceOf[String]),
      (6L, "aa bb cc dd ee ff")) // fully coarse-covered: collapses
    val df = docs.toDF("doc_id", "text")
    val acct = Dedup.spanDedupCutMulti(df, "doc_id", "text",
      kCoarse = 6, kFine = 3, hashWindows = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(2))).toMap
    spark.catalog.clearCache()
    val texts = Seq(true, false).map { hashed =>
      val m = Dedup.spanDedupTextMulti(df, "doc_id", "text",
        kCoarse = 6, kFine = 3, hashWindows = hashed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      spark.catalog.clearCache()
      m
    }
    assert(texts(0) === texts(1)) // hashed == string keys
    val text = texts(1)
    // n_kept == n_tokens - cut_tokens of the ACCOUNTING op on every doc
    acct.foreach { case (id, kept) =>
      assert(text(id)._1 === kept, s"doc $id: n_kept vs accounting") }
    // doc 2: coarse cut [1,6] + fine cut [11,13] -> the survivors rejoin
    // across BOTH gaps with single spaces (mid-doc splice)
    assert(text(2L) === ((5L, "x1 x2 x3 x4 y1")))
    // keeper and unpaired docs keep their full text
    assert(text(1L)._2 === "aa bb cc dd ee ff gg hh ii jj kk ll")
    assert(text(3L)._2 === "z1 z2 z3 jj kk ll z4 z5 z6 z7 z8 z9")
    // empty / null / fully-duplicated docs collapse to the empty string
    assert(text(4L) === ((0L, "")))
    assert(text(5L) === ((0L, "")))
    assert(text(6L) === ((0L, "")))
    // SUPERSET contract vs the fixed-kCoarse TRANSFORM: multi never
    // keeps more than fixed-k does
    val fixedKept = Dedup.spanDedupText(df, "doc_id", "text",
      k = 6, hashWindows = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fixedKept.foreach { case (id, nk) =>
      assert(text(id)._1 <= nk, s"doc $id: multi kept ${text(id)._1} > fixed $nk") }
    spark.catalog.clearCache()
  }
}
