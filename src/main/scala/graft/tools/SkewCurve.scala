package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-key skew audit (r15, verdict #3) — the scale dimension ScaleCurve
  * cannot see: its replications grow data UNIFORMLY, but the classic
  * 100 TB scale-killer is a full shuffle where ONE key holds a
  * disproportionate share of the rows (a viral document, a bot user, a
  * best-selling part). This tool plants exactly that and measures the
  * shuffle-keyed operators:
  *
  *   runMain graft.tools.SkewCurve <sfDir> <hotMultiplicities> <ops> [reps]
  *   e.g. ... /root/testdata/sf0.1 10000,40000,160000 k_chunk_dedup,k_bm25
  *
  * Skew construction (per multiplicity m, cached in
  * /tmp/graft_skew_m$m with a SCHEME marker like ScaleCurve's):
  *  - documents: the lowest-id doc containing the token 'spark' is
  *    duplicated m× under fresh ids — ONE text whose normalized form,
  *    chunk windows, and term postings all become hot keys
  *    (k_exact_dedup groups by normalized text; k_chunk_dedup's window
  *    partitions by chunk_text — the dup doc contributes its ~4 chunk
  *    texts × m rows each; k_bm25/k_rrf's per-term windows see the
  *    'spark' posting list grow by m);
  *  - orders: the first order duplicated m× under fresh o_orderkey with
  *    its o_custkey FIXED — k_window_topn's per-customer window gets one
  *    m-row customer;
  *  - lineitem: the first line duplicated m× under fresh l_orderkey with
  *    its l_partkey FIXED — k_salted_join (the q37 salt remedy, factor 8)
  *    vs k_plain_join (the same join unsalted) shows what the remedy
  *    buys when one part is m-hot.
  * Untouched tables symlink to the base corpus.
  *
  * What "pass" looks like: wall flat-to-linear in m with no cliff. The
  * operators' defenses are partial (map-side) aggregation for hash aggs
  * and partial WindowGroupLimit for rank-filtered windows — each map
  * task reduces a hot key to O(1) rows BEFORE the exchange, so the hot
  * key never lands on one reducer whole. A cliff here means a plan lost
  * its partial stage.
  */
object SkewCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val ms = args(1).split(',').map(_.trim.toInt).toSeq
    require(ms.forall(_ >= 1), s"multiplicities >= 1: $ms")
    val names = args(2).split(',').map(_.trim).toSeq
    val reps = if (args.length > 3) args(3).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val terms = Seq("spark", "join", "window", "merge", "filter")
    val ops: Map[String, (SparkSession, String) => DataFrame] = Map(
      "k_chunk_dedup" -> ((s, dir) =>
        graft.SparkEntry.curationV2Pipeline(
          graft.Tables.load(s, dir, "documents"), terms)),
      "k_bm25" -> ((s, dir) =>
        graft.ops.TextAnalysis.bm25TopK(
          graft.Tables.load(s, dir, "documents"), "doc_id", "text", terms, k = 10)),
      "k_rrf" -> ((s, dir) =>
        graft.SparkEntry.rrfFusionPipeline(
          graft.Tables.load(s, dir, "documents"), terms)),
      "k_exact_dedup" -> ((s, dir) =>
        graft.SparkEntry.queries("q21_dedup_exact")(s, dir)),
      "k_window_topn" -> ((s, dir) =>
        graft.SparkEntry.queries("q6_window_topn")(s, dir)),
      "k_salted_join" -> ((s, dir) =>
        graft.SparkEntry.queries("q37_salted_join")(s, dir)),
      // the unsalted twin of k_salted_join: the hot part's rows all hash
      // to one reducer — the cliff the salt remedy exists to avoid
      "k_plain_join" -> ((s, dir) => {
        val li = graft.Tables.load(s, dir, "lineitem")
          .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
        val p = graft.Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        // defeat the broadcast (part is small at test SF; at 100 TB both
        // sides shuffle — that is the plan under measurement)
        li.hint("shuffle_hash").join(p.hint("shuffle_hash"), "p_partkey")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      }),
      // the m-duplicated doc makes EVERY one of its ~50 8-token windows
      // an m-hot wkey — the firsts aggregation's partial min(struct) is
      // the defense under measurement (r16, q94's family)
      "k_span_dedup" -> ((s, dir) =>
        graft.ops.Dedup.spanDedupCut(
          graft.Tables.load(s, dir, "documents"), "doc_id", "text", k = 8)),
      // q91's family under a hot KEY (r17, verdict #5): the m-duplicated
      // document makes one 16-char key m-hot. The full pair join's
      // OUTPUT is m²-sized by definition (the editDistanceJoin warning),
      // so the dedup-caller scale paths are under measurement: the
      // key-domain join (duplicate multiplicity never multiplies
      // anything) and the cluster-edge mode (m−1 star edges + one
      // representative edge per key pair, same components)
      "k_editdist_keys" -> ((s, dir) =>
        graft.ops.Dedup.editDistanceJoinKeys(
          graft.Tables.load(s, dir, "documents").select(col("doc_id"),
            substring(regexp_replace(lower(col("text")), "[^a-z]", ""), 1, 16)
              .as("k")),
          "k", maxDist = 1, q = 2)),
      "k_editdist_cluster" -> ((s, dir) =>
        graft.ops.Dedup.editDistanceClusterEdges(
          graft.Tables.load(s, dir, "documents").select(col("doc_id"),
            substring(regexp_replace(lower(col("text")), "[^a-z]", ""), 1, 16)
              .as("k")),
          "doc_id", "k", maxDist = 1, q = 2)))

    // SPARK_GRAFT_SCALE_COLD=1: same contract as ScaleCurve — drop cached
    // frames before each consume so internally-persisting operators
    // measure the full build per rep, not the cached tail
    val cold = sys.env.get("SPARK_GRAFT_SCALE_COLD").contains("1")
    def consume(name: String, dir: String): Double = {
      if (cold) spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = ops(name)(spark, dir)
      graft.Bench.consume(df)
      (System.nanoTime() - t0) / 1e9
    }

    val schemeId = s"hotkey-v1 base=$sfDir"
    val results = scala.collection.mutable.ArrayBuffer[(Int, String, Double)]()
    for (m <- 0 +: ms) {
      val dir =
        if (m == 0) sfDir // baseline: the unskewed corpus
        else {
          val d = s"/tmp/graft_skew_m$m"
          val dirFile = new java.io.File(d)
          ReplicaCache.wipeUnlessScheme(dirFile, schemeId)
          if (!dirFile.exists()) {
            dirFile.mkdirs()
            val docs = graft.Tables.load(spark, sfDir, "documents")
            // one scan: collect the single hot row, fail fast if absent
            // (an empty plant would union zero rows and the flat curves
            // would read as a stress that never ran), replant as a
            // local one-row frame for the crossJoin
            val hotRows = docs.where(lower(col("text")).rlike("\\bspark\\b"))
              .orderBy(col("doc_id")).limit(1).collect()
            require(hotRows.length == 1,
              s"no document in $sfDir contains the token 'spark' — the " +
                "document-side skew plant needs one (pick a different token)")
            val hotDoc = spark.createDataFrame(
              java.util.Arrays.asList(hotRows(0)), docs.schema)
            docs.unionByName(
              spark.range(m).crossJoin(broadcast(hotDoc.drop("doc_id")))
                .select((lit(3000000000L) + col("id")).as("doc_id"),
                  col("text"), col("lang"), col("source"), col("n_chars")))
              .write.parquet(s"$d/documents.parquet")
            val orders = graft.Tables.load(spark, sfDir, "orders")
            val hotOrder = orders.orderBy(col("o_orderkey")).limit(1)
            orders.unionByName(
              spark.range(m).crossJoin(broadcast(hotOrder.drop("o_orderkey")))
                .select((col("id") + 3000000000L).as("o_orderkey") +:
                  orders.columns.filter(_ != "o_orderkey").map(col).toSeq: _*))
              .select(orders.columns.map(col).toSeq: _*)
              .write.parquet(s"$d/orders.parquet")
            val li = graft.Tables.load(spark, sfDir, "lineitem")
            val hotLine = li.orderBy(col("l_orderkey"), col("l_linenumber")).limit(1)
            li.unionByName(
              spark.range(m).crossJoin(broadcast(hotLine.drop("l_orderkey")))
                .select((col("id") + 3000000000L).as("l_orderkey") +:
                  li.columns.filter(_ != "l_orderkey").map(col).toSeq: _*))
              .select(li.columns.map(col).toSeq: _*)
              .write.parquet(s"$d/lineitem.parquet")
            graft.Tables.names
              .filterNot(Set("documents", "orders", "lineitem"))
              .foreach { n =>
                val link = java.nio.file.Paths.get(d, s"$n.parquet")
                if (!java.nio.file.Files.exists(link))
                  java.nio.file.Files.createSymbolicLink(link,
                    java.nio.file.Paths.get(sfDir, s"$n.parquet").toAbsolutePath)
              }
            ReplicaCache.stampScheme(dirFile, schemeId)
          }
          d
        }
      for (name <- names) {
        consume(name, dir) // warm
        val best = (1 to reps).map(_ => consume(name, dir)).min
        println(f"[skew] m=$m%-7d $name%-16s $best%8.2f s")
        results += ((m, name, best))
      }
    }
    // markdown for NOTES.md: rows = op, cols = hot multiplicity
    val cols = 0 +: ms
    println("| op | " + cols.map(m => s"m=$m").mkString(" | ") + " |")
    println("|---|" + cols.map(_ => "---|").mkString)
    for (name <- names) {
      val cells = cols.map(m =>
        f"${results.collectFirst { case (`m`, `name`, s) => s }.get}%.2f")
      println(s"| $name | " + cells.mkString(" | ") + " |")
    }
    spark.stop()
  }
}
