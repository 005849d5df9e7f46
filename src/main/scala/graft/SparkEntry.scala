package graft

import graft.cdc.Changelog
import graft.schema.SchemaMerging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/capability from SURVEY.md §2
  * (or the training-data-pipeline extension set), expressed Spark-first.
  * [[oracleSql]] carries the DuckDB-equivalent SQL the driver uses as the
  * correctness oracle; entries absent there get a rows-only check.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Fan a small single-split scan out to the session's shuffle width
    * before per-row-expensive work (the JSON envelope codec round trips):
    * a table that arrives as one scan partition — the sf corpora are
    * single small parquet files with one row group — otherwise runs its
    * entire pre-first-exchange stage (to_json encode + from_json parse in
    * the decode family) in ONE task regardless of core count (r19; guide
    * §2 scale-adaptive partitioning — measured 2× on the q18 shape at
    * sf0.1/local[32], where all ten tables scan as 1 split). The exchange
    * moves the narrow pre-encode rows once — far fewer bytes than the
    * JSON strings built after it. Skipped when the scan already has at
    * least half the target width: a 100 TB input arrives as thousands of
    * splits, where this repartition would be a pure extra pass over the
    * data. The partition count is pinned explicitly because AQE would
    * coalesce a sub-advisory-size exchange back down to one partition —
    * and it is the session's configured shuffle width, not a constant,
    * so the driver's low-core bench run keeps its own scale. Safe only
    * where row placement cannot reach the output: every caller's __seq
    * is a source column (never monotonically_increasing_id) and every
    * downstream materialize/orderBy keys on deterministic columns.
    */
  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ---- relational layer (SURVEY §2.9: capabilities the reference gets from
  // ---- its host SQL engine; ours come from Spark SQL natively) ----

  /** Money sums run in exact DECIMAL and surface as DOUBLE: a decimal's
    * pandas repr keeps trailing zeros to scale ("4434.70") while DuckDB's
    * client converts decimals to float64 ("4434.7"), so the driver's exact
    * hash only matches when BOTH sides emit the correctly-rounded double of
    * the same exact decimal value.
    */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(24, 6)))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def q2JoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    // part is tiny relative to lineitem at every SF: broadcast it.
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  private def q3JoinMulti(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    // dims are tiny -> broadcast chain; only orders stays distributed.
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"))
  }

  private def q4SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  private def q5AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    // parts never shipped in a near-full-quantity lineitem
    val li = t(s, dir, "lineitem").where(col("l_quantity") >= 49)
    p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))
  }

  private def q6WindowTopN(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  private def q7TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .limit(10)

  private def q8SetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
    val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
    c.intersect(sup).union(c.except(sup).withColumn("nationkey", -col("nationkey")))
      .orderBy(col("nationkey"))
  }

  private def q9Rollup(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  private def q10Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private def q11DistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  private def q12Scalar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .where(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_upper"),
        substring(col("o_orderpriority"), 1, 3).as("prio_pfx"),
        length(col("o_orderpriority")).as("prio_len"),
        concat(col("o_orderstatus"), lit("/"), col("o_orderpriority")).as("tag"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        round(col("o_totalprice") / 1000.0, 2).as("kprice"),
        (col("o_orderkey") % 7).as("key_mod"))
      .orderBy(col("o_orderkey"))

  // ---- CDC core (SURVEY §2.2/§2.8): changelog semantics over Spark ----

  /** The `events` table replayed as a CDC changelog: signup=insert,
    * error=delete, everything else=update; `event_id` is the change
    * sequence, `user_id` the primary key. Materializes final table state
    * through [[graft.cdc.Changelog.materialize]] — the ValuesDatabase-sink
    * semantics of the reference (ValuesDatabase.java:248-282).
    */
  private def q13Materialize(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val exploded = ev.select(
      col("user_id"),
      round(col("value"), 2).as("last_value"),
      when(col("event_type") === "signup", "+I")
        .when(col("event_type") === "error", "-D")
        .otherwise("+U").as(Changelog.OpCol),
      col("event_id").as(Changelog.SeqCol))
    Changelog.materialize(exploded, Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** Sharded-table merge (SURVEY §2.5/§2.6): two differently-shaped shards
    * of `customer` are routed to one sink table; schemas widen through
    * [[graft.schema.SchemaMerging.leastCommonTableInfo]] (INT+BIGINT ->
    * BIGINT, missing column -> null), rows coerce via pure projections.
    */
  private def q14ShardMerge(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val shard1 = c.where(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").cast(IntegerType).as("c_custkey"),
        col("c_name"), col("c_nationkey"))
    val shard2 = c.where(col("c_custkey") % 2 === 1)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
    val target = SchemaMerging.leastCommonSchema(Seq(shard1.schema, shard2.schema))
    SchemaMerging.coerce(shard1, target)
      .unionByName(SchemaMerging.coerce(shard2, target))
      .orderBy(col("c_custkey"))
  }

  private def q15WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").where(col("l_orderkey") < 100)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      sum(col("l_quantity")).over(w).as("running_qty"),
      avg(col("l_discount")).over(w).as("running_disc"))
      .withColumn("running_disc", round(col("running_disc"), 6))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private def q16EventsWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Full transform-operator path driven through the Verify surface: the
    * events feed becomes a paired changelog (signup=I, error=D with the row
    * as the before image, else U with no before image), runs through
    * [[graft.transform.TransformEngine]] with a filter (op conversion:
    * U-without-before passing the filter becomes INSERT) and a projection,
    * then materializes final state.
    */
  private def q17TransformOpconv(s: SparkSession, dir: String): DataFrame = {
    import graft.model.TableId
    import graft.transform.{TransformEngine, TransformRule}
    val ev = t(s, dir, "events")
    val payload = struct(
      col("user_id"),
      round(col("value"), 2).as("v"))
    val paired = ev.select(
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as(Changelog.OpCol),
      when(col("event_type") === "error", payload).as(Changelog.BeforeCol),
      when(col("event_type") =!= "error", payload).as(Changelog.AfterCol),
      col("event_id").as(Changelog.SeqCol))
    val engine = new TransformEngine(s, Seq(TransformRule(
      "events",
      projection = Some("user_id, v * 10 AS v10"),
      filter = Some("v > 50"))))
    val transformed = engine.transformChangelog(TableId.tableOnly("events"), paired)
    Changelog.materialize(Changelog.explode(transformed), Seq("user_id"))
      .withColumn("v10", round(col("v10"), 2))
      .orderBy(col("user_id"))
  }

  /** Debezium-JSON round trip through the Verify surface: events encoded as
    * debezium envelopes, decoded via [[graft.cdc.DebeziumJson.decode]]
    * (from_json, fully distributed), then materialized — must equal the
    * plain q13 materialization.
    */
  private def q18DebeziumRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ev = fanOut(t(s, dir, "events"))
    val payloadSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("last_value", DoubleType)))
    val payload = struct(col("user_id"), round(col("value"), 2).as("last_value"))
    val json = ev.select(
      col("event_id"),
      to_json(struct(
        when(col("event_type") === "error", payload).as("before"),
        when(col("event_type") =!= "error", payload).as("after"),
        when(col("event_type") === "signup", "c")
          .when(col("event_type") === "error", "d")
          .otherwise("u").as("op"),
        (col("event_id") * 0 + 1700000000000L).as("ts_ms"),
        struct(lit("graft").as("db"), lit("events").as("table")).as("source")
      )).as("value"))
    val paired = graft.cdc.DebeziumJson.decode(json, "value", payloadSchema,
      seqCol = Some("event_id"))
    Changelog.materialize(
      Changelog.explode(paired), Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** Connect-schema envelope round trip through the Verify surface:
    * events build a paired changelog with TEMPORAL payload columns
    * (TIMESTAMP(3), DATE, millis-of-day TIME), encode as
    * `{"schema":...,"payload":...}` records with the declared-wire-form
    * payload ([[graft.cdc.DebeziumJson.encodeWithSchema]]), decode them
    * back through the schema-aware consume path
    * (`decode(connectWire = true, schemaEnvelope = true)`), and
    * materialize — the oracle recomputes the same final state directly,
    * including the declared p=3 millisecond truncation the wire imposes.
    */
  private def q79ConnectSchemaRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ev = fanOut(t(s, dir, "events"))
    val info = graft.model.TableInfo(
      StructType(Seq(
        StructField("user_id", LongType, nullable = false),
        StructField("ts3", TimestampNTZType,
          metadata = new MetadataBuilder().putLong("graft.cdc.precision", 3L).build()),
        // p>3: the MicroTimestamp (epoch micros) branch of the precision fork
        StructField("ts6", TimestampNTZType,
          metadata = new MetadataBuilder().putLong("graft.cdc.precision", 6L).build()),
        // TIMESTAMP_LTZ rides the ZonedTimestamp ISO-'Z'-string wire form
        StructField("ltz", TimestampType),
        StructField("d", DateType),
        StructField("t_ms", IntegerType,
          metadata = new MetadataBuilder().putString("graft.cdc.type", "time").build()),
        StructField("last_value", DoubleType))),
      primaryKeys = Seq("user_id"))
    val payload = struct(
      col("user_id"),
      col("ts").cast(TimestampNTZType).as("ts3"),
      col("ts").cast(TimestampNTZType).as("ts6"),
      col("ts").cast(TimestampType).as("ltz"),
      to_date(col("ts")).as("d"),
      (hour(col("ts")) * 3600000 + minute(col("ts")) * 60000 +
        second(col("ts")) * 1000).cast(IntegerType).as("t_ms"),
      round(col("value"), 2).as("last_value"))
    val paired = ev.select(
      when(col("event_type") === "error", payload).as(Changelog.BeforeCol),
      when(col("event_type") =!= "error", payload).as(Changelog.AfterCol),
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as(Changelog.OpCol),
      col("event_id").as(Changelog.SeqCol))
    val encoded = graft.cdc.DebeziumJson.encodeWithSchema(
      paired, "graft", "events", info, passthrough = Seq(Changelog.SeqCol))
    val decoded = graft.cdc.DebeziumJson.decode(
      encoded, "value", info.schema, seqCol = Some(Changelog.SeqCol),
      connectWire = true, schemaEnvelope = true)
    Changelog.materialize(
      Changelog.explode(decoded), Seq("user_id"))
      .select(
        col("user_id"),
        date_format(col("ts3"), "yyyy-MM-dd HH:mm:ss.SSS").as("ts3_repr"),
        date_format(col("ts6"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts6_repr"),
        date_format(col("ltz"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ltz_repr"),
        date_format(col("d"), "yyyy-MM-dd").as("d_repr"),
        col("t_ms"),
        col("last_value"))
      .orderBy(col("user_id"))
  }

  // ---- training-data pipeline operators (ops package) ----

  private def q19TextStats(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis._
    fanOut(t(s, dir, "documents")).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      round(punctRatio(col("text")), 6).as("punct_ratio"),
      round(digitRatio(col("text")), 6).as("digit_ratio"),
      round(meanTokenLength(col("text")), 6).as("mean_tok_len"),
      qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  private def q20LangId(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis._
    t(s, dir, "documents")
      .select(col("doc_id"), langId(col("text")).as("lang_guess"))
      .groupBy(col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_guess"))
  }

  private def q21DedupExact(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, TextAnalysis}
    Dedup.exact(t(s, dir, "documents"), TextAnalysis.normalize(col("text")), col("doc_id"))
      .select(col("keep_id"), col("n_dups"))
      .orderBy(col("keep_id"))
  }

  private def q22DedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    Dedup.minhashLshPairs(fanOut(t(s, dir, "documents")), "doc_id", "text",
      threshold = 0.6)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup pairs at a SECOND pigeonhole geometry (r14, closing
    * the last no_oracle rows): maxHamming=2 over numChunks=4 — C(4,2)=6
    * block keys of two 16-bit chunks, vs q59's C(6,3)=20 three-chunk keys —
    * through the same production `simhashPairsOf` blocking machinery, with
    * the q59 oracle-reproducible md5 fingerprint so DuckDB brute-forces the
    * exact ground truth. Together the two geometries pin the chunk-bound
    * arithmetic, combination enumeration, and band join across different
    * (g, chunk-width) shapes. The production xxhash64 kernel config
    * (`simhashPairs`) stays pinned by OpsSpec laws — its hash is the one
    * part no external engine can recompute.
    */
  private def q23DedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    Dedup.simhashPairsOf(md5Simhash60(t(s, dir, "documents")),
        maxHamming = 2, numChunks = 4)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("bigint").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private def q24EmbedTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-bucketed approximate nearest neighbors, oracle-gated in its
    * APPROXIMATE configuration (r14, closing the last no_oracle rows): the
    * 4 hyperplanes are md5-derived dyadic rationals
    * ([[graft.ops.Similarity.md5Planes]]) that DuckDB re-derives
    * bit-for-bit, so the oracle recomputes the same 16-bucket partition
    * and the same per-probe cosine top-k. The config MULTIPROBES at
    * Hamming 1 (each query scans its own bucket plus the 4 one-plane-flip
    * neighbors — 5 of 16 buckets; still recall < 1, measured ~3× the
    * single-probe recall by AnnRecall), the production recall remedy that
    * keeps the corpus bucketing untouched. The xxhash64-plane path
    * (`lshTopK`) stays pinned by OpsSpec's kernel-equivalence and recall
    * laws; q57 gates the exhaustive configuration.
    */
  private def q25EmbedAnnLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopKPlanes(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      planes = Similarity.md5Planes("q25", numPlanes = 4, dim = 64),
      probeHamming = 1)
      .orderBy(col("query_id"), col("rank"))
  }

  private def q26Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    t(s, dir, "documents")
      .groupBy(TextAnalysis.fingerprint64(col("text")).as("fp"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))
  }

  /** Multimodal plumbing: text bytes as a stand-in binary payload, stub
    * feature extraction (mapPartitions batch shape), frame sampling. The
    * oracle replicates byte_len / checksum / frame count; float feature
    * values are covered by OpsSpec.
    */
  private def q27Multimodal(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Multimodal
    val media = t(s, dir, "documents")
      .where(col("doc_id") < 100)
      .select(col("doc_id").as("media_id"), lit("text").as("kind"),
        col("text").cast(BinaryType).as("bytes"))
    val feats = Multimodal.extractFeatures(media, featureDim = 16)
      .select(col("media_id"), col("byte_len"),
        size(col("features")).as("feature_dim"))
    val frames = Multimodal.frameSample(media, "media_id", "bytes", frameSize = 256)
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
    feats.join(frames, "media_id").orderBy(col("media_id"))
  }

  /** Scalar-function catalog parity (SURVEY §2.3): string + temporal
    * functions incl. the SimpleDateFormat-dialect shim, base64 round trip,
    * SIMILAR TO, TIMESTAMPADD/DIFF — all through
    * [[graft.functions.CdcFunctions]].
    */
  private def q28Functions(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CdcFunctions._
    t(s, dir, "orders")
      .where(col("o_orderkey") < 100)
      .select(
        col("o_orderkey"),
        lpad(col("o_orderstatus"), 5, "*").as("lpadded"),
        rpad(col("o_orderstatus"), 5, "#").as("rpadded"),
        repeat(col("o_orderstatus"), 3).as("repeated"),
        regexp_replace(col("o_orderpriority"), "-", "_").as("replaced"),
        call_function("left", col("o_orderpriority"), lit(3)).as("left3"),
        call_function("right", col("o_orderpriority"), lit(3)).as("right3"),
        instr(col("o_orderpriority"), "-").as("dash_pos"),
        concat_ws("/", col("o_orderstatus"), col("o_orderpriority")).as("joined"),
        reverse(col("o_orderpriority")).as("reversed"),
        ascii(col("o_orderstatus")).as("status_ascii"),
        similarTo(col("o_orderpriority"), "[0-9]-[A-Z ]+").as("prio_shape"),
        fromBase64String(base64(col("o_orderpriority").cast(BinaryType))).as("rt"),
        dateFormatSdf(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("sdf_ts"),
        (dayofweek(col("o_orderdate"))).as("dow"),
        quarter(col("o_orderdate")).as("qtr"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        date_format(timestampAdd("DAY", lit(5), col("o_orderdate")), "yyyy-MM-dd")
          .as("plus5d"),
        timestampDiff("HOUR", col("o_orderdate"),
          timestampAdd("DAY", lit(2), col("o_orderdate"))).as("diff_hr"))
      .orderBy(col("o_orderkey"))
  }

  /** As-of join (SURVEY §2.9): each purchase matched to the user's latest
    * preceding click, via [[graft.ops.Relational.asofJoin]] (union +
    * running last over the key window — one shuffle, no range blowup).
    * Ordering axis is `event_id` (monotone event order).
    */
  private def q29AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Relational
    val ev = t(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("amount"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"))
    Relational.asofJoin(purchases, clicks, Seq("user_id"), "event_id", "event_id")
      .select(col("user_id"), col("event_id"), col("amount"),
        col("asof_event_id").as("last_click_id"))
      .orderBy(col("event_id"))
  }

  /** Range join: lineitems shipped within 30 days after their order's
    * date — equi key + band predicate (Catalyst: one equi join, band as
    * post-filter).
    */
  private def q30RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Relational
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
    Relational.rangeJoin(o, li, Seq("o_orderkey"),
      col("l_shipdate"), col("o_orderdate"), col("o_orderdate") + expr("INTERVAL 30 DAY"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_quick_ships"))
      .orderBy(col("o_orderkey"))
  }

  /** Session windows (streaming-window family, batch form): per-user
    * sessions with a 30-minute inactivity gap over second-truncated event
    * times.
    */
  private def q31SessionWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("ts_s", date_trunc("second", col("ts")))
      .groupBy(session_window(col("ts_s"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** IVF approximate nearest neighbors, oracle-gated in its APPROXIMATE
    * AND TRAINED configuration (r15, lifting r14's iters=0 workaround):
    * since the Lloyd mean update accumulates in FIXED POINT
    * ([[graft.ops.Similarity.trainIvfCentroids]] — per-component
    * `floor(x·2²⁴+0.5)` longs summed exactly, centroid = one IEEE
    * division of exact integers), the 3 training rounds are
    * bit-reproducible under any partitioning and DuckDB folds the
    * IDENTICAL update: the oracle re-runs init (16 smallest-id vectors),
    * all 3 assignment+mean rounds, the final squared-L2 argmin
    * assignment, the nprobe=4-of-16 probe set (recall < 1 — candidates
    * shrink 4×, measured ~0.6 recall@10 by AnnRecall), and the
    * per-candidate cosine top-k bit-for-bit. r14 had to gate iters=0
    * because double-sum training was accumulation-order dependent — the
    * fixed-point trainer removes that asterisk. q58 still gates the
    * exhaustive (nprobe = nlist) pipeline.
    */
  private def q33EmbedIvf(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, iters = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** VARIANT support (SURVEY §1.3/§2.3): events.props parsed via
    * parse_json into Spark 4 VariantType, fields extracted with
    * variant_get, aggregated.
    */
  private def q32Variant(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CdcFunctions
    t(s, dir, "events")
      .withColumn("v", CdcFunctions.parseJson(col("props")))
      .withColumn("k", CdcFunctions.variantGet(col("v"), "$.k").cast(IntegerType))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("k_mod"))
  }

  /** Built-in sketches (§2.9 top-k/HLL row): HyperLogLog++ distinct
    * counts, approx_percentile, count-min frequency. Their binary payloads
    * are engine-specific (no external oracle can rebuild them — the
    * oracle-exact sketch gates are q62/q63 over graft's own mergeable
    * sketches), so this query gates the LAWS instead: each verdict column
    * is 1 iff the deterministic estimate satisfies its published bound
    * (approx NDV within 3×rsd; percentile's exact rank within a generous
    * 50× of the accuracy bound; CMS probe in [true, true + 2·eps·N]),
    * and the oracle emits literal 1s plus the exact NDV — a sketch
    * regression flips a verdict and breaks the hash match. The CMS probe
    * deserializes the few per-group sketches on the driver — the
    * mergeable-sketch contract is precisely that they are tiny.
    */
  private def q34Sketches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
    // persisted: the sketch agg is consumed by the CMS probe collect AND
    // the final join — unpersisted, each consumer re-runs the full
    // lineitem sketch pass; the cache is one row per returnflag
    val agg = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("l_partkey")).as("exact_parts"),
      approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
      expr("approx_percentile(l_extendedprice, array(0.5, 0.95))").as("pcts"),
      count_min_sketch(col("l_suppkey"), lit(0.01), lit(0.95), lit(42)).as("cms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val topSupp = li.groupBy(col("l_returnflag"), col("l_suppkey"))
      .agg(count(lit(1)).as("true_cnt"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("l_returnflag"))
          .orderBy(col("true_cnt").desc, col("l_suppkey").asc)))
      .where(col("__rk") === 1).drop("__rk")
    val probed = agg.select(col("l_returnflag"), col("cms"), col("n_rows"))
      .join(topSupp, "l_returnflag").collect().toSeq.map { r =>
        val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("cms")))
        val est = sk.estimateCount(java.lang.Long.valueOf(
          r.getAs[Number]("l_suppkey").longValue()))
        val truth = r.getAs[Long]("true_cnt")
        val slack = math.ceil(0.02 * r.getAs[Long]("n_rows")).toLong
        (r.getAs[String]("l_returnflag"),
          if (est >= truth && est <= truth + slack) 1L else 0L)
      }
    import s.implicits._
    val cmsOk = probed.toDF("l_returnflag", "cms_ok")
    val pct = agg.select(col("l_returnflag"),
      element_at(col("pcts"), 1).as("p50"), element_at(col("pcts"), 2).as("p95"))
    val ranks = li.select(col("l_returnflag"), col("l_extendedprice"))
      .join(broadcast(pct), "l_returnflag")
      .groupBy(col("l_returnflag")).agg(
        sum(when(col("l_extendedprice") < col("p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("l_extendedprice") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("l_extendedprice") < col("p95"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("l_extendedprice") <= col("p95"), 1L).otherwise(0L)).as("le95"))
    agg.join(ranks, "l_returnflag").join(broadcast(cmsOk), "l_returnflag")
      .select(
        col("l_returnflag"),
        col("exact_parts"),
        when(abs(col("approx_parts") - col("exact_parts"))
          <= lit(3 * 0.02) * col("exact_parts"), 1L).otherwise(0L).as("approx_ok"),
        when(col("lt50") <= ceil(lit(0.505) * col("n_rows")) &&
          col("le50") >= floor(lit(0.495) * col("n_rows")), 1L).otherwise(0L).as("p50_ok"),
        when(col("lt95") <= ceil(lit(0.955) * col("n_rows")) &&
          col("le95") >= floor(lit(0.945) * col("n_rows")), 1L).otherwise(0L).as("p95_ok"),
        col("cms_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** GROUPING SETS with grouping() indicators — the explicit form behind
    * rollup/cube (§2.9 aggregation family).
    */
  private def q35GroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  grouping(o_orderstatus) AS g_status,
        |  grouping(o_orderpriority) AS g_prio,
        |  count(*) AS n
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |  g_status, g_prio""".stripMargin)
  }

  /** Regex function family (§2.3): extract, count, replace, split, rlike —
    * the dialect-safe core shared with the oracle.
    */
  private def q36Regexp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .where(col("doc_id") < 200)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "(\\w+) (\\w+)", 2).as("second_word"),
        size(regexp_extract_all(col("text"), lit("ta[a-z]+"), lit(0))).as("n_ta"),
        regexp_replace(col("text"), "[aeiou]", "").substr(1, 20).as("devoweled"),
        size(split(col("text"), " value ")).as("n_value_splits"),
        col("text").rlike("spark .* spark").as("double_spark"))
      .orderBy(col("doc_id"))

  /** Salted join for skewed keys (scale path; results identical to the
    * plain join by construction).
    */
  private def q37SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Skew
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    Skew.saltedJoin(li, p, "p_partkey", saltFactor = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      .orderBy(col("p_brand"))
  }

  /** Correlated scalar subquery (§2.9 optimizer family — Catalyst
    * decorrelates it into a join): customers above their nation's average
    * balance.
    */
  private def q38Subquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c_custkey, c_nationkey, c_acctbal AS bal
        |FROM customer_v c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_v c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** SOFT_DELETE converter (§2.2 PostTransformConverter): DELETE becomes
    * INSERT-of-before, with `__data_event_type__` projected BEFORE the
    * converter runs so the sink row records the original op. Every user
    * ever seen stays materialized; users whose last event was an error
    * show op_type -D.
    */
  private def q39SoftDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.model.TableId
    import graft.transform.{TransformEngine, TransformRule}
    val ev = t(s, dir, "events")
    val payload = struct(col("user_id"), round(col("value"), 2).as("v"))
    val paired = ev.select(
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as(Changelog.OpCol),
      when(col("event_type") === "error", payload).as(Changelog.BeforeCol),
      when(col("event_type") =!= "error", payload).as(Changelog.AfterCol),
      col("event_id").as(Changelog.SeqCol))
    val engine = new TransformEngine(s, Seq(TransformRule(
      "events",
      projection = Some("user_id, v, __data_event_type__ AS op_type"),
      converter = Some("SOFT_DELETE"))))
    val transformed = engine.transformChangelog(TableId.tableOnly("events"), paired)
    Changelog.materialize(Changelog.explode(transformed), Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** Canal-JSON round trip (§2.8 Kafka sink, second format): the events
    * changelog encoded as canal envelopes, decoded back, materialized —
    * must equal the direct materialization (same oracle as q13).
    */
  private def q40CanalRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = fanOut(t(s, dir, "events"))
    val payload = struct(col("user_id"), round(col("value"), 2).as("last_value"))
    val paired = ev.select(
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as(Changelog.OpCol),
      when(col("event_type") === "error", payload).as(Changelog.BeforeCol),
      when(col("event_type") =!= "error", payload).as(Changelog.AfterCol),
      col("event_id").as(Changelog.SeqCol))
    val payloadSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("last_value", DoubleType)))
    val encoded = graft.cdc.CanalJson.encode(
      paired, "graft", "events", Seq("user_id"), passthrough = Seq(Changelog.SeqCol))
    val decoded = graft.cdc.CanalJson.decode(
      encoded, "value", payloadSchema, seqCol = Some(Changelog.SeqCol))
    Changelog.materialize(
      Changelog.explode(decoded), Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** REPLACE-op changelog replay (SURVEY §1.1: `+R` is an upsert without a
    * before image, DataChangeEvent.java:100-154 — MongoDB and Kafka
    * upsert feeds emit it). A REPLACE-heavy changelog over `events`
    * (every non-error event is a whole-row upsert keyed by user, errors
    * are -D tombstones, event_id the unique log position) materializes
    * last-wins-by-seq — before-images are irrelevant by construction,
    * which is exactly the REPLACE contract. One keyed shuffle (the
    * materialize window), same plan shape at any scale.
    */
  private def q41Replace(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val exploded = ev.select(
      col("user_id"),
      col("event_type").as("last_type"),
      round(col("value"), 2).as("last_value"),
      when(col("event_type") === "error", "-D").otherwise("+R").as(Changelog.OpCol),
      col("event_id").as(Changelog.SeqCol))
    Changelog.materialize(exploded, Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** Gopher-style repetition quality signals over `documents` (Rae et
    * al. 2021 §A1.1): duplicate-word fraction, top-word fraction,
    * top-bigram fraction — the filters a 100 TB pretraining pipeline
    * applies before dedup. All per-row bounded projections (HOF counting
    * is O(doc_len²) within a row, no shuffle, full column pruning);
    * tokenization is a literal single-space split so the DuckDB oracle
    * computes the identical token stream.
    */
  private def q42Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // one-pass native kernel, materialized through a generator so
    // projection collapse cannot re-run it per consumed field (the
    // composed HOF formulation is O(distinct×n) per row — minutes at
    // sf0.1; the kernel is O(n) hash counting)
    docs.select(col("doc_id"),
      explode(array(graft.functions.expressions.NativeTextFunctions
        .repetitionStats(col("text")))).as("r"))
      .select(
        col("doc_id"),
        col("r.n_words").cast(LongType).as("n_words"),
        col("r.dup_word_frac").as("dup_word_frac"),
        col("r.top_word_frac").as("top_word_frac"),
        col("r.top_bigram_frac").as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic held-out split (Curation.deterministicSplit): ~10% of
    * documents label "val" by md5-prefix hash — reproducible across
    * engines and reruns (the DuckDB oracle computes the SAME md5 split).
    * Pure projection + one 2-group aggregate.
    */
  private def q43Split(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
      graft.ops.Curation.deterministicSplit(col("doc_id"), 0.1).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("split"))
  }

  /** Benchmark decontamination (Curation.ngramContamination): documents
    * sharing any word 3-gram with a probe set (here: the 5 lowest-id
    * documents standing in for an eval benchmark), with the distinct
    * shared-gram count. Probe grams broadcast; corpus streams.
    */
  private def q44Decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Curation.ngramContamination(
      docs.where(col("doc_id") >= 5), "doc_id", "text",
      docs.where(col("doc_id") < 5), "text", n = 3)
      .select(col("doc_id"), col("n_matched").cast(LongType).as("n_matched"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup cluster resolution (Dedup.nearDupClusters): the exact-
    * verified MinHash pair set (q22's operator) resolves to connected
    * components by min-label propagation; every document reports its
    * cluster representative (itself when canonical/singleton) — the
    * "keep one per cluster" decision a dedup pipeline actually applies.
    * Oracle: DuckDB recursive transitive closure over the same exact-
    * Jaccard pair set.
    */
  private def q45DedupResolve(s: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(t(s, dir, "documents"))
    val pairs = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.6)
    graft.ops.Dedup.nearDupClusters(docs.select(col("doc_id")), "doc_id", pairs)
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** PII detection + redaction (ops.Pii): per-kind match counts and the
    * redacted text over a deterministic PII-bearing derivation of the
    * documents table (synthetic text carries no PII of its own, so each
    * doc embeds an email/phone/SSN/IPv4 built from its own columns — the
    * DuckDB oracle derives the identical string and applies the identical
    * RE2-compatible patterns). Pure projection: one codegen'd pass, no
    * shuffle, no UDFs.
    */
  private def q46Pii(s: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(t(s, dir, "documents"))
    val synth = concat(
      lit("contact user"), col("doc_id").cast(StringType),
      lit("@"), col("source"), lit(".org call 202-555-"),
      lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
      lit(" ssn 123-45-"), lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
      lit(" ip 10.0."), (col("doc_id") % 256).cast(StringType), lit(".7 "),
      col("text"))
    docs.select(col("doc_id"), synth.as("t"))
      .select(
        col("doc_id"),
        graft.ops.Pii.count(col("t"), "email").cast(LongType).as("n_email"),
        graft.ops.Pii.count(col("t"), "phone").cast(LongType).as("n_phone"),
        graft.ops.Pii.count(col("t"), "ssn").cast(LongType).as("n_ssn"),
        graft.ops.Pii.count(col("t"), "ipv4").cast(LongType).as("n_ipv4"),
        substring(graft.ops.Pii.redact(col("t")), 1, 96).as("redacted_prefix"))
      .orderBy(col("doc_id"))
  }

  /** Weighted domain mixing (Curation.domainMix): rebalance the 20
    * document sources to target rates (75%/50%/25% for three named
    * domains, 10% elsewhere) by the portable md5 draw — the oracle
    * applies the same CASE-mapped hex thresholds. Projection + filter +
    * one small aggregate; no shuffle before the group-by.
    */
  private def q47DomainMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Curation.domainMix(docs, col("source"), col("doc_id"),
      Map("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))
  }

  /** Gopher-style document filter (TextAnalysis.gopherReasons): pass/fail
    * verdict with ordered reason codes from word-count bounds, repetition
    * caps, and token-shape bounds — the decision step on top of q42's
    * signals. The repetition kernel materializes once through a
    * generator; thresholds are tuned to exercise every reason code on
    * this corpus.
    */
  private def q48GopherFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val docs = t(s, dir, "documents")
    val thresholds = TextAnalysis.GopherThresholds(
      minWords = 30, maxWords = 90, maxDupWordFrac = 0.55,
      maxTopWordFrac = 0.12, minMeanTokenLen = 4.2, maxMeanTokenLen = 4.8)
    docs.select(col("doc_id"), split(col("text"), " ").as("words"),
        explode(array(graft.functions.expressions.NativeTextFunctions
          .repetitionStats(col("text")))).as("r"))
      .select(col("doc_id"),
        TextAnalysis.gopherReasons(
          col("r"), TextAnalysis.meanWordLength(col("words")), thresholds).as("rs"))
      .select(col("doc_id"),
        (size(col("rs")) === 0).as("pass"),
        concat_ws(",", col("rs")).as("reasons"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (Curation.packOffsets): concatenate documents in
    * id order, split at 512-token context boundaries, report each doc's
    * global token offset / pack id / in-pack position. The running sum is
    * a two-level prefix sum (parallel bucket subtotals + driver prefix
    * over ~50 bucket totals + bucket-partitioned windows) — NOT a global
    * single-partition window, which would serialize the corpus through
    * one task at scale. Oracle: DuckDB's global window cumsum.
    */
  private def q49Pack(s: SparkSession, dir: String): DataFrame = {
    // token convention matches the oracle by construction: single-space
    // split with empty tokens counted (NOT \s+ runs — the two diverge on
    // any doc with consecutive whitespace)
    val nTok = when(trim(col("text")) === "", lit(0L))
      .otherwise(size(split(trim(col("text")), " ", -1)).cast(LongType))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), nTok.as("n_tok"))
    graft.ops.Curation.packOffsets(docs, "doc_id", "n_tok",
      ctxLen = 512, bucketWidth = 100L)
      .orderBy(col("doc_id"))
  }

  /** Web-corpus pre-clean (TextAnalysis.cleanHtml): strip tags, decode
    * common entities, collapse whitespace — over a deterministic HTML-ish
    * derivation of each document (synthetic text has no markup of its
    * own). Pure codegen'd projection; the oracle applies the identical
    * replace/regexp chain.
    */
  private def q50Clean(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val synth = concat(
      lit("<div id=\""), col("source"), lit("\" class='c'>\n  <p>"),
      substring(col("text"), 1, 60),
      lit("</p><br/>tail &amp; more&nbsp;&lt;ok&gt;</div>"))
    docs.select(col("doc_id"), synth.as("t"))
      .select(col("doc_id"),
        graft.ops.TextAnalysis.cleanHtml(col("t")).as("cleaned"),
        length(col("t")).cast(LongType).as("orig_len"))
      .orderBy(col("doc_id"))
  }

  /** Int8 embedding quantization (Similarity.quantizeInt8): the 4×
    * storage shrink a billion-vector store applies, gated on exact code
    * sums and max reconstruction error (max, not sum, of float errors —
    * order-independent, so engine summation order can't break the exact
    * gate). Scale materializes into its own column first; an inlined
    * scale would re-run the max fold per element.
    */
  private def q51Quantize(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    emb.select(col("vec_id"), col("embedding"),
        Similarity.int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"), col("embedding"),
        Similarity.quantizeInt8(col("embedding"), col("scale")).as("q"))
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast(LongType)).as("q_sum"),
        aggregate(
          zip_with(col("embedding"),
            Similarity.dequantizeInt8(col("q"), col("scale")),
            (a, b) => abs(a.cast(DoubleType) - b)),
          lit(0.0), (acc, v) => greatest(acc, v)).as("max_err"))
      .orderBy(col("vec_id"))
  }

  /** Pivot (wide aggregation): order counts by status × priority. The
    * pivot values are declared explicitly — Spark then skips the extra
    * distinct-values job, the exact shape a 100 TB pivot needs (never
    * let the engine scan the fact table once just to learn the columns).
    * Counts coalesce to 0 so absent combinations match the SQL FILTER
    * formulation.
    */
  private def q52Pivot(s: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = t(s, dir, "orders")
    val wide = orders.groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
    wide.select(col("o_orderstatus") +:
        priorities.map(p => coalesce(col(s"`$p`"), lit(0L)).as(p)): _*)
      .orderBy(col("o_orderstatus"))
  }

  /** Exact percentiles (sort-based, not sketch — complements q34's
    * approx family): median and p90 of per-order quantities by return
    * flag. Both engines interpolate `lower + (upper-lower)*frac` at rank
    * p*(n-1) over doubles, so results gate exactly.
    */
  private def q53Percentile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Lossless temporal round trip: TIME and TIMESTAMP-with-zone values
    * ride the debezium wire (CDC JSON carries them as strings — Spark has
    * neither type natively), decode through [[graft.sources.CdcTemporal]]
    * into their carrier encodings (millis-of-day INT; (instant, tz)
    * struct), survive changelog materialization with updates, and render
    * back byte-identically. The oracle rebuilds the same values with
    * DuckDB's native TIME / TIMESTAMPTZ arithmetic — a genuine
    * cross-engine check of offset math (epoch_us of a '+05:30' literal)
    * and time-of-day epoch extraction, not a string echo. Pure codegen'd
    * projections end to end; the only shuffle is the keyed materialize.
    */
  private def q54Temporal(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.CdcTemporal
    import org.apache.spark.sql.types._
    val ev = fanOut(t(s, dir, "events").select(col("event_id")))
    val h0 = col("event_id") % 24
    val m = (col("event_id") * 7) % 60
    val sec = (col("event_id") * 13) % 60
    val ms = col("event_id") % 1000
    def two(c: org.apache.spark.sql.Column) = lpad(c.cast(StringType), 2, "0")
    def timeStr(h: org.apache.spark.sql.Column) = concat(
      two(h), lit(":"), two(m), lit(":"), two(sec), lit("."),
      lpad(ms.cast(StringType), 3, "0"))
    val tz = element_at(
      array(lit("Z"), lit("+05:30"), lit("-08:00"), lit("+02:00")),
      (col("event_id") % 4).cast(IntegerType) + 1)
    val localStr = date_format( // session is UTC (Sessions.tuned)
      timestamp_seconds(lit(1700000000L) + col("event_id") % 100000),
      "yyyy-MM-dd'T'HH:mm:ss")
    val payloadSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("t", StringType),
      StructField("tsz", StringType)))
    def wire(rows: DataFrame) = rows.select(col("seq"), to_json(struct(
      when(lit(false), struct(col("event_id"), col("t"), col("tsz"))).as("before"),
      struct(col("event_id"), col("t"), col("tsz")).as("after"),
      col("op"),
      lit(1700000000000L).as("ts_ms"),
      struct(lit("graft").as("db"), lit("events").as("table")).as("source")
    )).as("value"))
    // inserts for every key; updates (higher seq) shift the hour for every
    // 10th key — materialize must keep the updated time
    val inserts = ev.select(col("event_id"), timeStr(h0).as("t"),
      concat(localStr, tz).as("tsz"), lit("c").as("op"), col("event_id").as("seq"))
    val updates = ev.where(col("event_id") % 10 === 0)
      .select(col("event_id"), timeStr((h0 + 1) % 24).as("t"),
        concat(localStr, tz).as("tsz"), lit("u").as("op"),
        (col("event_id") + lit(1000000000L)).as("seq"))
    val paired = graft.cdc.DebeziumJson.decode(
      wire(inserts.unionByName(updates)), "value", payloadSchema, seqCol = Some("seq"))
    val mat = Changelog.materialize(
      Changelog.explode(paired), Seq("event_id"))
    val tm = CdcTemporal.timeFromString(col("t"))
    val z = CdcTemporal.zonedTimestampFromString(col("tsz"))
    mat.select(
      col("event_id"),
      tm.as("time_millis"),
      CdcTemporal.timeToString(tm).as("time_str"),
      unix_micros(z.getField("instant")).as("ts_micros"),
      CdcTemporal.zonedTimestampToString(z).as("ts_str"),
      z.getField("tz").as("tz"))
      .orderBy(col("event_id"))
  }

  /** Token counting both ways the brief asks for: whitespace tokens and
    * the BPE-ish regex estimate (word pieces + single symbols + a long-
    * word subword penalty). Pure regexp projections; the oracle applies
    * the identical ASCII-class patterns (Java and RE2 agree on `\w`/`\s`
    * without unicode flags), so counts gate exactly.
    */
  private def q55Tokens(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_ws"),
      TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType).as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide line dedup (Curation.dedupLinesCorpus) — the C4-style
    * boilerplate-removal pass: the globally FIRST occurrence of every
    * distinct line survives, later repeats drop. Lines are synthesized by
    * chunking the single-line fixture text into 6-word windows (the
    * operator is line-structure-agnostic; the derivation is the fixture's
    * job, as in q50). First-occurrence resolution is a partial-combining
    * min aggregate + equi-join, never a window over the line partition —
    * a 10⁹-repeat boilerplate line must not serialize through one task.
    */
  private def q56LineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val words = split(col("text"), " ")
    val nLines = ((size(words) + 5) / 6).cast(IntegerType)
    val lines = transform(sequence(lit(0), nLines - 1),
      i => array_join(slice(words, i * 6 + 1, lit(6)), " "))
    graft.ops.Curation.dedupLinesCorpus(
      docs.select(col("doc_id"), lines.as("lines")), "doc_id", "lines")
      .select(col("doc_id"), col("kept_text"), col("n_lines"), col("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** LSH top-k run EXHAUSTIVELY (numPlanes = 0 puts the whole corpus in
    * one bucket): exercises the LSH bucket-join / per-query top-k
    * machinery end to end while staying oracle-checkable against the
    * exact brute-force cosine ranking — any bucketing, join, or ranking
    * bug breaks the hash match. Since r14 the approximate setting (q25)
    * is ALSO exact-gated on md5-derived planes with Hamming-1 multiprobe;
    * this query remains the exhaustive pin for the PRODUCTION xxhash64
    * plane path, which no external engine can recompute.
    */
  private def q57LshExhaustive(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") >= 10 && col("vec_id") < 20), "vec_id", "embedding",
      k = 7, numPlanes = 0, probeHamming = 0)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF top-k probing EVERY list (nprobe = nlist): the full pipeline —
    * centroid training, projection-only assignment, per-list search,
    * cross-list merge — must reproduce the exact ranking. The
    * approximate setting (q33) is ALSO exact-gated since r14 with
    * iters=0 data-derived centroids; this query remains the exhaustive
    * pin covering the TRAINED-centroid path end to end.
    */
  private def q58IvfExhaustive(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") >= 20 && col("vec_id") < 30), "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 8)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SimHash pigeonhole blocking run end to end with an ORACLE-
    * REPRODUCIBLE fingerprint: a 60-bit simhash whose per-token hash is
    * the first 15 hex digits of md5 (computable identically in DuckDB),
    * fed through the production `simhashCandidates` machinery (chunk
    * split, C(6,3) block keys, band join, Hamming verify). The oracle
    * recomputes the same simhash in SQL and brute-forces ALL pairs at
    * Hamming <= 3, so a chunk-arithmetic, block-key, join, or verify
    * regression that loses or invents a single pair breaks the hash
    * match. (The native kernel's own hash stays pinned by OpsSpec laws
    * and OpsSpec laws; q23 gates a second pigeonhole geometry
    * (maxHamming=2, numChunks=4) since r14 — only the token hash is swapped
    * here, to make the ground truth computable outside Spark.)
    */
  private def q59SimhashBlocking(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    Dedup.simhashPairsOf(md5Simhash60(fanOut(t(s, dir, "documents"))),
        maxHamming = 3, numChunks = 6)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("bigint").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The oracle-reproducible 60-bit SimHash frame `(id, sim)` shared by
    * q59 and q23: per-token hash = first 15 hex digits of md5 (computable
    * identically in DuckDB), majority vote per bit with ties -> 0 (the
    * native kernel's rule). Tokens exactly as the oracle: lower,
    * non-alnum runs -> single space, trim, split (an all-separator doc
    * yields one empty token).
    */
  private def md5Simhash60(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(
      trim(regexp_replace(lower(col("text")), "[^\\p{L}\\p{N}]+", " ")),
      " ")).as("tok"))
    val hashed = toks.withColumn("h",
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L))).as(s"s$b"))
    val agg = hashed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), votes: _*)
    agg.select(col("doc_id").as("id"),
      (0 until 60).map(b =>
        when(col(s"s$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sim"))
  }

  /** MongoDB change-stream envelope decode (§2.1's document-DB shape —
    * the one envelope family debezium/canal don't cover): events become
    * change-stream envelopes (signup→insert, error→delete,
    * purchase→replace, view→update with post-image, click→update whose
    * post-image lookup LOST the race with a delete — null fullDocument,
    * dropped by the decoder exactly as the reference drops it, so clicks
    * must not affect state), decoded to a +R/-D changelog with no before
    * images and materialized latest-wins by user.
    */
  private def q60MongoRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = fanOut(t(s, dir, "events"))
    val payloadSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("last_value", DoubleType)))
    val doc = struct(col("user_id"), round(col("value"), 2).as("last_value"))
    val json = ev.select(to_json(struct(
      struct(concat(lit("82"), conv(col("event_id").cast(StringType), 10, 16))
        .as("_data")).as("_id"),
      when(col("event_type") === "signup", "insert")
        .when(col("event_type") === "error", "delete")
        .when(col("event_type") === "purchase", "replace")
        .otherwise("update").as("operationType"),
      col("event_id").as("clusterTime"),
      when(col("event_type").isin("signup", "purchase", "view"), doc)
        .as("fullDocument"),
      when(col("event_type") === "error", struct(col("user_id")))
        .as("documentKey"),
      struct(lit("graft").as("db"), lit("events").as("coll")).as("ns")
    )).as("value"))
    val decoded = graft.cdc.MongoChangeStreamJson.decode(json, "value", payloadSchema)
    Changelog.materialize(Changelog.explode(decoded), Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** Embedding-cosine near-dup pairs in the EXHAUSTIVE configuration
    * (numPlanes = 0 — one bucket): the candidate join + exact-cosine
    * verify + threshold + pair canonicalization must reproduce the
    * brute-force pair set bit-for-bit. The bucketed approximate setting
    * is pinned by OpsSpec's subset law (bucketed pairs are a subset of
    * these, with identical cosines on the intersection).
    */
  private def q61CosinePairs(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    Similarity.cosineNearDupPairs(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, numPlanes = 0)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Oracle-reproducible HLL (ops.Sketches): md5-derived registers with
    * an integer-exact register sum, per l_returnflag plus a merged ALL
    * row (merge = element-wise max — the mergeable-state law). DuckDB
    * recomputes registers, sum, and estimate from the same md5 hashes;
    * s_total is a BIGINT so there is no float accumulation to diverge.
    * Supplements q34, whose built-in sketch payloads no external oracle
    * can pin.
    */
  private def q62Hll(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val li = t(s, dir, "lineitem")
    // (r18 optimization, r19 adjudication) ONE distinct (flag, orderkey)
    // frame feeds everything: HLL registers are duplicate-insensitive
    // (max over ρ(md5) — identical registers from the distinct pairs),
    // the per-flag true count is the pair count, and the ALL true count
    // is the distinct-orderkey count over the pairs. Before r18:
    // lineitem was scanned + distinct-aggregated three times. r18
    // additionally PERSISTED this frame; the r19 interleaved A/B
    // (5 reps) showed the persist IS the regression the r18
    // driver artifact caught (old 3-scan 1.15 s median / persist 1.72 /
    // no-persist 1.07). Note the initial plan dump still shows the
    // distinct subtree duplicated per consumer (whether AQE stage/
    // exchange reuse collapses them at runtime is not guaranteed — the
    // pre-exchange Filter/Project shapes differ per branch); the persist
    // drop stands on the measured timings, not on a reuse claim, and a
    // wider-than-lineitem input may want the persist back — re-measure
    // before copying this shape.
    val pairs = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
    val regs = Sketches.hllRegisters(pairs, "l_orderkey", Seq("l_returnflag"))
    val all = Sketches.hllMerge(
      regs.withColumn("l_returnflag", lit("ALL")), Seq("l_returnflag"))
    val est = Sketches.hllEstimate(regs.unionByName(all), Seq("l_returnflag"))
    val nd = pairs.groupBy(col("l_returnflag"))
      // count(col), not count(1): a NULL orderkey forms a distinct
      // (flag, NULL) pair but count_distinct — the pre-r18 form and the
      // ALL branch below — excludes NULLs; keep both branches agreeing
      // (r18 review)
      .agg(count(col("l_orderkey")).as("true_nd"))
      .unionByName(pairs.select(lit("ALL").as("l_returnflag"),
        col("l_orderkey")).groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_orderkey")).as("true_nd")))
    est.join(nd, "l_returnflag")
      .select(col("l_returnflag"), col("regs_used").cast("long").as("regs_used"),
        col("s_total"), col("hll_estimate"), col("true_nd"))
      .orderBy(col("l_returnflag"))
  }

  /** Oracle-reproducible count-min sketch (ops.Sketches): d=4 × w=64
    * counters from md5 row-hashes over l_suppkey, probed with the ten
    * most frequent keys. Counters are integers, estimates are
    * min-over-rows — DuckDB rebuilds the identical matrix, so any
    * hashing, fan-out, or probe-join defect breaks the hash match.
    */
  private def q63Cms(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val li = t(s, dir, "lineitem")
    val sketch = Sketches.cmsBuild(li, "l_suppkey")
    val top = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("l_suppkey").asc)
      .limit(10)
    Sketches.cmsProbe(sketch, top, "l_suppkey")
      .join(top, "l_suppkey")
      .select(col("l_suppkey"), col("true_cnt"), col("cms_estimate"))
      .orderBy(col("true_cnt").desc, col("l_suppkey").asc)
  }

  /** tf-idf distinctive terms (ops.TextAnalysis.termFrequencies): top-5
    * terms per document under the float-free (tf desc, df asc, term asc)
    * ranking — the integer skeleton of tf-idf (maximize term frequency,
    * minimize document frequency). The DuckDB oracle recomputes tf/df
    * from the same tokenization; the log-scored ordering itself is
    * pinned by OpsSpec (ln rounds differently across engines, so it
    * never enters the hash gate). Docs shorter than 5 distinct terms
    * emit what they have.
    */
  private def q64TfIdf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = graft.ops.TextAnalysis.termFrequencies(
      t(s, dir, "documents").where(col("doc_id") < 200), "doc_id", "text")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Cross-document duplicate spans (ops.Dedup.crossDocSpanStats): per
    * document, how many 8-token windows recur in other documents — the
    * Lee et al. 2022 substring-dedup signal. String-keyed here so DuckDB
    * can rebuild the identical window multiset; the hashed scale path is
    * pinned equal by OpsSpec.
    */
  private def q65DupSpans(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.crossDocSpanStats(
      t(s, dir, "documents"), "doc_id", "text", k = 8, hashWindows = false)
      .orderBy(col("doc_id"))

  /** EXACT n-gram Jaccard join via document-frequency prefix filtering
    * (AllPairs/PPJoin) — same answer set as q22's oracle, but guaranteed
    * (no probabilistic recall): a hash mismatch here means the prefix
    * filter dropped a qualifying pair.
    */
  private def q66JaccardJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.jaccardJoinExact(fanOut(t(s, dir, "documents")),
      "doc_id", "text", threshold = 0.6)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** SemDeDup over embeddings in its exhaustive configuration (nlist=1 ⇒
    * within-cluster comparison IS all-pairs), so DuckDB reproduces the
    * result exactly: cosine pairs + recursive min-label closure. The
    * clustered scale path is pinned to this by OpsSpec's subset law.
    */
  /** Corpus-trained unigram LM quality scoring (ops.LanguageModel):
    * model trained on the full documents table (minCount fold into
    * `<unk>`), every doc scored. Gated columns are integer evidence +
    * one IEEE division; the ln-space score itself is pinned by OpsSpec
    * (engine-defined ln rounding stays out of the oracle, as with
    * tf-idf's ranking).
    */
  private def q68LmScore(s: SparkSession, dir: String): DataFrame =
    graft.ops.LanguageModel.scoreCorpus(t(s, dir, "documents"),
      "doc_id", "text", minCount = 5)
      .select(col("doc_id"), col("n_tok"), col("n_oov"), col("sum_cnt"),
        round(col("avg_cnt"), 6).as("avg_cnt"))
      .orderBy(col("doc_id"))

  /** DSIR importance-weight evidence (ops.LanguageModel
    * .importanceWeights): target model = English slice, base model =
    * whole corpus; the gated integer sums pin both models and the
    * per-token lookups, the log-ratio weight is OpsSpec-pinned.
    */
  private def q69Dsir(s: SparkSession, dir: String): DataFrame =
    graft.ops.LanguageModel.importanceWeights(
      t(s, dir, "documents"), "doc_id", "text", col("lang") === "en",
      minCount = 5)
      .select(col("doc_id"), col("n_tok"), col("sum_t_cnt"), col("sum_b_cnt"))
      .orderBy(col("doc_id"))

  /** Exact stratified top-k sampling (ops.Curation.stratifiedTopK):
    * fixed per-language quotas via the threshold-refinement scale path;
    * the oracle recomputes the brute-force per-stratum window with the
    * same md5 draw — a mismatch means the threshold path dropped a
    * quota row.
    */
  private def q70Stratified(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.stratifiedTopK(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      Seq("lang"), col("doc_id"), k = 50)
      .select(col("doc_id"), col("lang"), col("rank"))
      .orderBy(col("lang"), col("rank"))

  /** Corpus collocation statistics (ops.TextAnalysis.collocationStats):
    * top bigrams with the integer PMI evidence; the ln-space PMI itself
    * stays caller-side per the float policy.
    */
  private def q71Collocations(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.collocationStats(
      t(s, dir, "documents"), "doc_id", "text", topN = 100)
      .orderBy(col("cnt").desc, col("bigram").asc)

  private def q67SemDedup(s: SparkSession, dir: String): DataFrame =
    // bounded slice: the exhaustive config is O(slice²) by design — 2000
    // vectors keeps the all-pairs gate meaningful at every SF without the
    // bench measuring an unbounded quadratic (covers ALL of sf0.01)
    graft.ops.Similarity.semDedup(
      t(s, dir, "embeddings").where(col("vec_id") < 2000),
      "vec_id", "embedding", threshold = 0.4, nlist = 1)
      .select(col("id").as("vec_id"), col("rep"), col("keep"))
      .orderBy(col("vec_id"))

  /** Token-budgeted top-quality selection per source domain
    * (ops.Curation.budgetedTopQuality): fill each source's 3k-char
    * budget greedily with its best documents (quality = a deterministic
    * integer signal, ties by doc_id). The oracle recomputes the
    * brute-force per-domain cumulative window — a mismatch means the
    * percentile-cut scale path admitted or dropped a budget row.
    */
  private def q72BudgetedQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("n_chars") % 997).as("quality"))
    graft.ops.Curation.budgetedTopQuality(docs, Seq("source"),
      "n_chars", "quality", col("doc_id"), budget = 3000L)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("quality"), col("cum_before"))
      .orderBy(col("source"), col("cum_before"), col("doc_id"))
  }

  /** Two-stage retrieval (ops.Similarity.rerankTopK): int8 coarse scan
    * keeps 50 candidates per query, exact float cosine reranks to
    * top-5. The coarse score is integer-exact (cosine of the code
    * vectors), so even this APPROXIMATE configuration hash-matches the
    * DuckDB oracle — quantization, candidate cut, and rerank all
    * reproduce exactly.
    */
  private def q73RerankTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.rerankTopK(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, coarseK = 50)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Incremental dedup (ops.Dedup.minhashLshPairsAgainst): the delta
    * slice (doc_id % 4 = 0) checked against the kept base (the rest) —
    * every verified cross near-dup pair, exact against the brute-force
    * cross-Jaccard oracle.
    */
  private def q74IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Dedup.minhashLshPairsAgainst(
      docs.where(col("doc_id") % 4 === 0), "doc_id",
      docs.where(col("doc_id") % 4 =!= 0), "doc_id", "text",
      threshold = 0.6)
      .select(col("delta_id"), col("base_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("delta_id"), col("base_id"))
  }

  /** Unicode NFC normalization (expressions.UnicodeNormalizeExpr): the
    * corpus text is ASCII, so decomposed accents (e + U+0301), the
    * angstrom-sign singleton (U+212B → U+00C5), a combining ring
    * (A + U+030A) and an fi ligature (U+FB01, which NFC must keep) are
    * PLANTED onto every row — the gate exercises real canonical
    * composition against DuckDB's utf8proc normalizer, byte for byte.
    * NFKC (no DuckDB analog) is pinned by OpsSpec laws.
    */
  private def q75UnicodeNorm(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.NativeTextFunctions
    val planted = concat(col("text"),
      lit(" cafe\u0301 \u212B A\u030A \uFB01nal"))
    val nfc = NativeTextFunctions.unicodeNormalize(planted, "NFC")
    t(s, dir, "documents").select(
      col("doc_id"),
      nfc.as("nfc"),
      (planted =!= nfc).as("changed"),
      length(nfc).as("nfc_len"))
      .orderBy(col("doc_id"))
  }

  /** Real media decode ([[graft.ops.MediaCodec]]): per document a 24-bit
    * BMP (closed-form pixels, bottom-up rows, 4-byte row padding) and a
    * 16-bit PCM WAV are ENCODED by graft's own writers, then decoded
    * through the independent read paths — BMP via `javax.imageio`, WAV
    * via the RIFF chunk walk — and gated on integer-exact evidence
    * (dimensions, per-channel pixel sums, PCM duration) that DuckDB
    * recomputes from the pixel formula. An encoder/decoder disagreement
    * on padding, BGR order, or row direction breaks the hash.
    */
  private def q76MediaDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{MediaCodec, Multimodal}
    val ids = t(s, dir, "documents").where(col("doc_id") < 200)
      .select(col("doc_id"))
    val fixSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("bytes", BinaryType),
      StructField("wav", BinaryType)))
    val fixEnc = org.apache.spark.sql.Encoders.row(fixSchema)
    val media = ids.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (id % 7 + 2).toInt
        val h = (id % 5 + 2).toInt
        val px = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          px(p * 3) = ((id + 3 * p) % 256).toByte
          px(p * 3 + 1) = ((id + 3 * p + 7) % 256).toByte
          px(p * 3 + 2) = ((id + 3 * p + 13) % 256).toByte
          p += 1
        }
        val bmp = MediaCodec.encodeBmp(MediaCodec.Image(w, h, 3, px))
        val n = (id % 50 + 10).toInt
        val wav = MediaCodec.encodeWav(1, 8000, 16,
          Array.tabulate(n)(i => ((id * 7 + i * 11) % 30000).toShort))
        Row(id, bmp, wav)
      }
    }(fixEnc)
    // operator-level decode (format/dimensions) ...
    val meta = Multimodal.decodeMeta(media, "bytes")
      .select(col("doc_id"), col("format"), col("width"), col("height"))
    // ... plus pixel/PCM evidence from the codecs directly
    val sumSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sum_r", LongType), StructField("sum_g", LongType),
      StructField("sum_b", LongType),
      StructField("wav_channels", IntegerType),
      StructField("wav_ms", LongType)))
    val sumEnc = org.apache.spark.sql.Encoders.row(sumSchema)
    val sums = media.mapPartitions { rows =>
      rows.map { r =>
        val img = MediaCodec.decodeImage(r.getAs[Array[Byte]](1)).get
        val cs = img.channelSums
        val a = MediaCodec.decodeWav(r.getAs[Array[Byte]](2)).get
        Row(r.getLong(0), cs(0), cs(1), cs(2), a.channels, a.durationMs)
      }
    }(sumEnc)
    meta.join(sums, "doc_id").orderBy(col("doc_id"))
  }

  /** Sign random projection (Similarity.signProjection): JL squeeze of
    * the 64-dim embeddings to 16 via a ±1 PRF sign matrix that is never
    * materialized. The gate injects an arithmetic sign (bit 15 of a
    * mixed linear form — carries make it non-separable in (i,j)) that
    * DuckDB recomputes inside a `list_transform` lambda; four projected
    * components pin the full algebra (sign indexing, 1-based lambda
    * alignment, ×1/√16 scaling) to 9 decimals. The production-default
    * xxhash64 signs are law-gated in OpsSpec (JL distortion bound).
    */
  private def q77RandomProjection(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    // DuckDB's list_transform lambda index is 1-based: (j + 1) aligns
    val sign = (i: Int, j: org.apache.spark.sql.Column) =>
      lit(1.0) - lit(2.0) * floor(
        pmod(lit(i.toLong * 1103515245L) + (j + 1) * lit(12345L) + lit(42L),
          lit(65536L)) / 32768.0)
    val proj = Similarity.signProjection(col("embedding"), 16, sign = sign)
    fanOut(t(s, dir, "embeddings"))
      .select(col("vec_id").as("emb_id"), proj.as("p"))
      .select(col("emb_id"),
        round(element_at(col("p"), 1), 9).as("p0"),
        round(element_at(col("p"), 2), 9).as("p1"),
        round(element_at(col("p"), 3), 9).as("p2"),
        round(element_at(col("p"), 4), 9).as("p3"))
      .orderBy(col("emb_id"))
  }

  /** One-pass PCA (Similarity.pcaFit/pcaProject/pcaReconstruct): the
    * d×d Gram accumulates in a single treeAggregate, the driver runs a
    * Jacobi eigensolver on the 64×64 covariance (control plane, never
    * data-sized). The gate is algebraic: at FULL rank, project →
    * reconstruct must be the identity and the centered norm must be
    * preserved — both error columns round to exactly 0.0 at 6 decimals
    * only if the eigensolver converged to an orthonormal basis AND the
    * projection algebra is right (a wrong eigenvector, a dropped mean,
    * or a transposed component matrix all blow the gate). Variance/
    * eigenvalue laws are spec-gated (OpsSpec) — they need cross-row
    * float sums no oracle can replicate bit-for-bit.
    */
  private def q78Pca(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    val model = Similarity.pcaFit(emb, "embedding", k = 64)
    Similarity.pcaRoundTripErrors(emb, "vec_id", "embedding", model)
      .orderBy(col("emb_id"))
  }

  /** Okapi BM25 top-10 per query term (TextAnalysis.bm25TopK) with the
    * integer evidence (tf, dl, df) the score derives from. The gated
    * score is the rational-idf form — one exact-integer num/den division,
    * bit-identical across engines (log-idf isn't identically rounded;
    * the log-idf ordering itself is OpsSpec-gated, same policy as q64's
    * tf-idf ranking).
    */
  private def q80Bm25(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "window", "merge", "filter"), k = 10,
        rationalIdf = true)
      .select(col("term"), col("rank").cast("long").as("rank"), col("doc_id"),
        col("tf"), col("dl"), col("df"), col("score"))
      .orderBy(col("term"), col("rank"))

  /** Weighted Bernoulli sample (Curation.weightedHashSample): keep each
    * document with probability w/4096 where w = min(n_chars, 400) — the
    * importance-sampling primitive. The decision is all-integer
    * (u·rateDen < w·rateNum·2^32 on a 32-bit md5 draw), so DuckDB
    * recomputing the same md5 makes the identical decision row for row.
    */
  private def q81WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.weightedHashSample(
        t(s, dir, "documents"), col("doc_id"),
        least(col("n_chars"), lit(400L)), rateNum = 1, rateDen = 4096)
      .select(col("doc_id"), col("n_chars"),
        least(col("n_chars"), lit(400L)).as("w"))
      .orderBy(col("doc_id"))

  /** Overlapping token-window chunking (Curation.chunkTokens): 32-token
    * windows every 24 tokens plus a tail-aligned final window — the
    * context-window preparation step for embedding/RAG pipelines. Exact
    * gate: DuckDB rebuilds the same normalized token array and slices
    * the same start offsets.
    */
  private def q82Chunk(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 24)
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        col("n_tokens").cast("long").as("n_tokens"), col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** End-to-end curation pipeline — the composed flow a pretraining-data
    * run executes: language gate (langId == 'en') → Gopher quality gate
    * (all repetition/length filters pass) → exact dedup among survivors
    * (first doc per normalized text wins) → per-source rollup. Every
    * stage formula is individually gated (q20/q48/q21); this query gates
    * their COMPOSITION. Plan shape: ONE corpus scan feeds the native
    * langScores/repetitionStats projections; the dedup winner is a
    * row_number over the normalized-text key (high-cardinality, tiny
    * groups — the safe window shape), so survivors flow straight into
    * the rollup without a second scan or a join back.
    */
  private def q83CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val thresholds = TextAnalysis.GopherThresholds(
      minWords = 30, maxWords = 90, maxDupWordFrac = 0.55,
      maxTopWordFrac = 0.12, minMeanTokenLen = 4.2, maxMeanTokenLen = 4.8)
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        split(col("text"), " ").as("words"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        explode(array(graft.functions.expressions.NativeTextFunctions
          .repetitionStats(col("text")))).as("r"))
      .where(col("lang_guess") === "en" &&
        size(TextAnalysis.gopherReasons(col("r"),
          TextAnalysis.meanWordLength(col("words")), thresholds)) === 0)
    val w = Window.partitionBy(TextAnalysis.normalize(col("text")))
      .orderBy(col("doc_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(size(col("words"))).cast("long").as("n_words"))
      .orderBy(col("source"))
  }

  /** Mergeable histogram quantile sketch (Sketches.histBuild/Merge/
    * Quantiles — the third of the sketch trio after q62 HLL and q63
    * CMS): per-(lang, source) shard sketches merge to per-lang state
    * (BIGINT vector adds, exactly equal to a one-shot build), then
    * p25/p50/p75/p95 estimates whose rank test is all integer and whose
    * bucket-center reconstruction is one multiply-add — DuckDB
    * recomputes everything bit-for-bit.
    */
  private def q84HistQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val shards = Sketches.histBuild(t(s, dir, "documents"), col("n_chars"),
      Seq("lang", "source"), lo = 0, hi = 600, buckets = 120)
    val merged = Sketches.histMerge(Seq("lang"), shards.drop("source"))
    Sketches.histQuantiles(merged, Seq("lang"),
        lo = 0, hi = 600, buckets = 120, percents = Seq(25, 50, 75, 95))
      .orderBy(col("lang"))
  }

  /** Curation pipeline v2 (r14) — the retrieval-side composition the r13
    * primitives exist for: token-window chunking (q82's config) →
    * per-chunk exact dedup (first chunk per text wins, keyed window like
    * q83's) → BM25 slice over the SURVIVING CHUNKS (q80's rational-idf
    * exact-integer gate, the chunk table as the BM25 corpus) → weighted
    * Bernoulli subsample of the slice (q81's all-integer md5 decision,
    * weight = tf at rate 1/4 — relevance-proportional downsampling).
    * Every stage formula is individually gated; this gates their
    * COMPOSITION (the reference's composed-pipeline shape,
    * FlinkPipelineComposer.java:176-260, is the analog). Chunk identity
    * rides one synthetic key doc_id·1000 + chunk_id (chunk counts are
    * bounded by the 600-char corpus docs — ~6 windows max, far under
    * 1000), decoded back in the output.
    *
    * Plan shape: ONE corpus scan feeds chunk→dedup (generator +
    * chunk-text-keyed window — high-cardinality tiny groups, q83's safe
    * shape); bm25's (N,S) stats broadcast; postings prune to the query
    * terms before the dl join; per-term top-k is a WindowGroupLimit; the
    * sample is a pure filter on the ranked slice. PlanSpec pins the
    * single FileScan, no cartesian, and the group-limit.
    */
  /** q85's pipeline shape, terms-parameterized — SHARED with ScaleCurve's
    * x_curation2 so the scale measurement runs the SAME code, including
    * the chunk_id < 1000 key-encoding guard (a violation must error, not
    * silently collide keys: the oracle computes the same arithmetic, so
    * the gate could not catch a collision).
    */
  private[graft] def curationV2Pipeline(docs: DataFrame, terms: Seq[String]): DataFrame = {
    import graft.ops.{Curation, TextAnalysis}
    val chunks = Curation.chunkTokens(docs, "doc_id", "text",
        window = 32, stride = 24)
      // doc_id >= 0 is part of the encoding contract too (r14 ADVICE):
      // the decode uses truncating DIV/% while the DuckDB oracle uses
      // floor-division — they agree only on non-negative keys, so a
      // negative doc_id must fail fast, not silently diverge cross-engine
      .select(when(col("chunk_id") < 1000 && col("doc_id") >= 0,
          col("doc_id") * 1000 + col("chunk_id"))
        .otherwise(raise_error(concat(lit("curationV2: (doc_id, chunk_id) "
          + "outside the doc_id*1000+chunk_id key encoding's domain "
          + "(need doc_id >= 0, chunk_id < 1000): "),
          col("doc_id").cast("string"), lit(","), col("chunk_id").cast("string"))))
        .as("chunk_key"),
        col("chunk_text"))
    // shuffle + sort keyed by (xxhash64(text), text), not the raw 32-token
    // string: grouping is identical (the hash is a function of the text),
    // but the sort comparator settles almost every comparison on the
    // 8-byte hash instead of a full string compare — the difference that
    // matters when this window sorts 100 TB of chunks
    val w = Window.partitionBy(xxhash64(col("chunk_text")), col("chunk_text"))
      .orderBy(col("chunk_key"))
    val deduped = chunks.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("chunk_key"), col("chunk_text"))
    val sliced = TextAnalysis.bm25TopK(deduped, "chunk_key", "chunk_text",
      terms, k = 10, rationalIdf = true)
    Curation.weightedHashSample(sliced,
      concat_ws(":", col("term"), col("doc_id")), col("tf"),
      rateNum = 1, rateDen = 4)
  }

  private def q85CurationV2(s: SparkSession, dir: String): DataFrame =
    curationV2Pipeline(t(s, dir, "documents"),
        Seq("spark", "join", "window", "merge", "filter"))
      .select(col("term"), col("rank").cast("long").as("rank"),
        expr("doc_id DIV 1000").as("doc_id"),
        expr("doc_id % 1000").as("chunk_id"),
        col("tf"), col("dl"), col("df"), col("score"))
      .orderBy(col("term"), col("rank"))

  /** Reciprocal-rank fusion of two lexical retrievers (r14): the BM25
    * top-20 per term (q80's rational-idf config) fused with the naive
    * raw-term-frequency top-20 (genuinely different ranking: no idf, no
    * length normalization) via [[graft.ops.Relational.rrfFusion]] at the
    * standard K=60 — the hybrid-retrieval merge step of a retrieval /
    * decontamination pipeline. Both retrievers read ONE persisted
    * termFrequencies frame (plan-identical cache hit), and the RRF score
    * is an exact num/den rational of the integer ranks, so DuckDB
    * recomputes the whole fusion bit-for-bit.
    */
  /** q86's fusion shape, terms-parameterized — SHARED with ScaleCurve's
    * x_rrf (same code path under measurement as under the gate).
    */
  private[graft] def rrfFusionPipeline(docs: DataFrame, terms: Seq[String]): DataFrame = {
    import graft.ops.{Relational, TextAnalysis}
    val bm25 = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, k = 20,
        rationalIdf = true)
      .select(col("term"), col("doc_id"), col("rank"))
    val tfW = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id").asc)
    // raw tf frame: this retriever never reads df, so the full-vocab df
    // agg + corpus-sized join of termFrequencies would be dead weight
    // (r18 optimization; the persisted tf cache stays plan-identical
    // with bm25TopK's — one tokenize for both retrievers, as before)
    val tfTop = TextAnalysis.termFrequenciesRaw(docs, "doc_id", "text")
      .where(col("term").isin(terms: _*))
      .withColumn("rank", row_number().over(tfW))
      .where(col("rank") <= 20)
      .select(col("term"), col("doc_id"), col("rank"))
    Relational.rrfFusion(bm25, tfTop, "term", "doc_id", "rank",
      kRrf = 60, topK = 10)
  }

  private def q86RrfFusion(s: SparkSession, dir: String): DataFrame =
    rrfFusionPipeline(t(s, dir, "documents"),
        Seq("spark", "join", "window", "merge", "filter"))
      .select(col("term"), col("rank").cast("long").as("rank"), col("doc_id"),
        col("r_a").as("r_bm25"), col("r_b").as("r_tf"),
        col("num"), col("den"), col("score"))
      .orderBy(col("term"), col("rank"))

  /** Z-order write clustering (r14, [[graft.ops.Layout]]): the Morton key
    * of (user_id, event_id) — the data-layout primitive that decides what
    * parquet min/max statistics can prune at 100 TB (files sorted by this
    * key carry tight bounding boxes in BOTH dimensions). The gate
    * aggregates per z-range "file": row count, the exact xor of the keys
    * (any interleaving bug flips it), and the per-bucket bounding box in
    * both dimensions — the min/max evidence a reader's pruning would use.
    * Pure integer bit arithmetic, recomputed identically by the oracle's
    * 5-step spread ladder. The GATE masks both dimensions to 20 bits
    * (covers every id in the test corpora; deterministic wrap beyond):
    * DuckDB's BIGINT `<<` THROWS when a spread value's bit 62 shifts into
    * the sign bit and its `>>` sign-extends, so the cross-engine-exact
    * claim holds on sub-31-bit dimensions — the [[graft.ops.Layout]]
    * scaladoc documents the boundary; Spark-side full-width behavior is
    * OpsSpec property-pinned against a plain-Scala reference.
    */
  private def q87ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Layout
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        Layout.zorderKey(col("user_id").bitwiseAND(lit(0xFFFFFL)),
          col("event_id").bitwiseAND(lit(0xFFFFFL))).as("z"))
      .groupBy(shiftrightunsigned(col("z"), 16).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(z)").as("xor_z"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        min(col("event_id")).as("min_event"), max(col("event_id")).as("max_event"))
      .orderBy(col("zbucket"))
  }

  /** Multi-table (banded-OR) LSH amplification, oracle-gated in its
    * APPROXIMATE configuration (r15, verdict #1): 16 independent
    * md5-derived plane tables ([[graft.ops.Similarity.md5PlaneTables]] —
    * the q25 dyadic-rational recipe, one tag per table) of 8 planes each,
    * Hamming-1 multiprobe per table, candidates unioned + deduped, exact
    * cosine rerank. DuckDB re-derives all 128 planes bit-for-bit,
    * recomputes every per-table bucket partition and probe set, and ranks
    * the same deduped candidate union — the amplified approximate
    * SELECTION is the ground truth. This is the configuration AnnRecall
    * measures at recall@10 ≈ 0.85 on the near-isotropic corpus (vs 0.50
    * for the best single-table multiprobe config, q25), scanning ≈ 0.4 of
    * the corpus per query.
    */
  private def q88MultiLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopKMultiTable(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      tables = Similarity.md5PlaneTables("q88", numTables = 16, numPlanes = 8, dim = 64),
      probeHamming = 1)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q89: product-quantization ADC retrieval with exact rerank
    * (Similarity.trainPqCodebooks + pqTopKPrecomputed) — 4 subspaces of
    * 16 components, 8-entry codebooks trained by TWO fixed-point Lloyd
    * rounds (bit-reproducible under any partitioning, the q33 property
    * per subspace), coarse candidates = smallest-40 asymmetric distances
    * (per-query LUT lookups summed left-to-right), exact cosine top-5
    * rerank. DuckDB folds the identical per-subspace fixed-point
    * training, re-derives every code and LUT entry, and re-ranks the
    * same ADC candidate cut — the APPROXIMATE selection is the ground
    * truth, trained configuration included.
    */
  private def q89PqAdc(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    val books = Similarity.trainPqCodebooks(
      emb, "vec_id", "embedding", m = 4, ksub = 8, iters = 2)
    Similarity.pqTopKPrecomputed(
      emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, books, coarseK = 40)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q90: IVF-PQ (FAISS IVFADC) — coarse IVF quantizer (8 lists, one
    * fixed-point Lloyd round) + product quantization of the RESIDUALS
    * (4 subspaces × 8 entries, one round, trained on v − c_list),
    * nprobe=2 probe, per-(query, list) residual LUTs, coarse-32 ADC cut,
    * exact cosine top-5 rerank. Every stage is deterministic (fixed-point
    * training, componentwise IEEE residuals, index-order LUT folds, fixed
    * ADC association), so DuckDB re-derives the ENTIRE trained index —
    * both quantizers — and the composed approximate selection is the
    * ground truth.
    */
  private def q90IvfPq(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings")
    val (cents, books) = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nlist = 8, itersIvf = 1, m = 4, ksub = 8, itersPq = 1)
    // r18: the query routes through a full ANN-model SAVE/LOAD cycle
    // ([[graft.ops.AnnModels]]) — train-once-reuse-across-sessions is the
    // 100 TB deployment shape, and the bit-exact round trip (doubles as
    // raw IEEE bits) means the DuckDB oracle, which re-derives the index
    // from the data alone, keeps gating the LOADED model byte-identically.
    // fixed path keyed by the data dir (overwritten each run): repeated
    // bench/verify invocations must not accumulate /tmp dirs (r18 review)
    val idxDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_q90_ivfpq_idx_" +
        Integer.toHexString(dir.hashCode)).getAbsolutePath
    graft.ops.AnnModels.saveIvfPq(s, cents, books, idxDir)
    val (lc, lb) = graft.ops.AnnModels.loadIvfPq(s, idxDir)
    Similarity.ivfPqTopKPrecomputed(emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, lc, lb, nprobe = 2, coarseK = 32)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q91: blocked edit-distance similarity join
    * ([[graft.ops.Dedup.editDistanceJoin]]) — document key = first 16
    * characters of the letters-only lowercased text, every pair within
    * Levenshtein distance 1 via numbered-q-gram prefix blocking + exact
    * verify. The oracle brute-forces the pair space with DuckDB's own
    * `levenshtein` (unit-cost edit distance in both engines; the keys
    * are ASCII so code-point and byte distances coincide) — a hash
    * mismatch means the q-gram blocking dropped a qualifying pair.
    */
  private def q91EditdistJoin(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents").select(col("doc_id"),
      substring(regexp_replace(lower(col("text")), "[^a-z]", ""), 1, 16).as("k"))
    graft.ops.Dedup.editDistanceJoin(keyed, "doc_id", "k", maxDist = 1, q = 2)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q92: BPE tokenizer TRAINING ([[graft.ops.Bpe.train]]) — 8 merges over
    * the documents corpus, weighted pair counts with the total tiebreak
    * (count DESC, pair ASC). The oracle re-derives every merge in DuckDB
    * as 8 unrolled stages (pair-count aggregation → argmax → a
    * `list_reduce` string-fold greedy merge — an independent formulation
    * of the same Sennrich scan, which OpsSpec pins against the brute-force
    * reference). Integer counts make the training bit-reproducible under
    * any partitioning (the fixed-point-Lloyd contract).
    */
  private def q92BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = graft.ops.Bpe.train(t(s, dir, "documents"), "text",
      numMerges = 8, minPairCount = 2L)
    merges.toDF().select(col("rank"), col("lhs"), col("rhs"),
      col("pairCount").as("pair_count")).orderBy("rank")
  }

  /** q93: BPE ENCODE with corpus-trained merges — train 8 merges, then
    * tokenize every document with the native min-rank kernel
    * ([[graft.functions.expressions.BpeEncodeExpr]]) and count tokens
    * corpus-wide. The oracle encodes the DISTINCT-WORD table instead (the
    * trained word table after 8 sequential rank-order merges IS the
    * encoding — equivalent to the min-rank loop because a merge's
    * components always predate its output symbol; OpsSpec pins that
    * equivalence) and multiplies by word frequency — two different
    * computational paths over two engines agreeing on the same counts.
    */
  private def q93BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 8, minPairCount = 2L)
    docs.select(explode(graft.ops.Bpe.encode(col("text"), merges)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(40)
  }

  /** q94: exact-substring span dedup ([[graft.ops.Dedup.spanDedupCut]],
    * Lee et al. 2021 style) — every 8-token window seen earlier in
    * (doc_id, pos) order marks its span; overlapping spans union; output
    * is per-doc kept/cut token accounting. String window keys here so the
    * oracle reproduces them; the production path shuffles xxhash64 keys
    * (OpsSpec pins both paths identical).
    */
  private def q94SpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.spanDedupCut(t(s, dir, "documents"), "doc_id", "text",
      k = 8, hashWindows = false)
      .select(col("doc_id"), col("n_tokens"), col("cut_tokens"),
        round(col("keep_frac"), 9).as("keep_frac"))
      .orderBy("doc_id")

  /** q95: the span-dedup TRANSFORM ([[graft.ops.Dedup.spanDedupText]]) —
    * q94's accounting materialized: per document, the normalized text
    * with every globally-duplicated 8-token span removed (first
    * occurrence kept). The oracle rebuilds kept text by expanding dup
    * intervals to covered positions, anti-joining token positions, and
    * re-assembling with an ordered string_agg — a different
    * formulation (position expansion vs the Spark side's interval HOF
    * filter) of the same cut.
    */
  private def q95SpanDedupText(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.spanDedupText(t(s, dir, "documents"), "doc_id", "text",
      k = 8, hashWindows = false)
      .orderBy("doc_id")

  /** q96: per-document tokenizer FERTILITY (BPE tokens per word — the
    * curation signal for spotting out-of-distribution documents: text
    * the tokenizer fragments is unlike the training corpus). The Spark
    * side encodes each document's raw text with the kernel; the oracle
    * sums per-WORD token counts off the trained word table and joins the
    * per-doc word multiset — two different aggregations agreeing.
    */
  private def q96BpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 8, minPairCount = 2L)
    val text = coalesce(col("text"), lit(""))
    val words = filter(
      split(graft.ops.TextAnalysis.normalize(text), " "),
      w => length(w) > 0)
    docs.select(col("doc_id"),
      size(words).cast("long").as("n_words"),
      size(graft.ops.Bpe.encode(text, merges)).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(when(col("n_words") > 0,
          col("n_tokens").cast("double") / col("n_words"))
          .otherwise(lit(0.0)), 9).as("fertility"))
      .orderBy("doc_id")
  }

  /** q97: CURATION v3 (r17) — the first composition where the span-dedup
    * TRANSFORM's output (q95), not just its accounting, feeds downstream
    * operators: dedup → train BPE on the DEDUPED corpus → encode +
    * fertility gate → token-budget sequence pack
    * ([[graft.ops.Curation.packOffsets]]'s two-level prefix sum — never a
    * single-partition window). Exercises the normalized-text round trip
    * (spanDedupText emits space-joined normalized tokens; wordFreqs /
    * the encode kernel re-normalize idempotently) and empty-document
    * collapse (fully-duplicated docs gate out on n_tokens = 0).
    *
    * Corpus passes: ONE span-dedup pass materializes the deduped frame
    * (persisted — consumed by the train aggregation, the scoring
    * projection, and nothing else), training touches only the word
    * table, scoring is a single cached-frame projection (persisted —
    * consumed by the pack's bucket totals and the final join), and the
    * pack is bucket-parallel. PlanSpec audits the source-scan count.
    */
  private[graft] def curationV3Pipeline(docs: DataFrame,
      numMerges: Int = 8, fertilityMax: Double = 3.8,
      ctxLen: Int = 4096): DataFrame = {
    import graft.ops.{Bpe, Curation, Dedup}
    val dd = Dedup.spanDedupText(docs, "doc_id", "text", k = 8,
        hashWindows = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = Bpe.train(dd, "kept_text", numMerges, minPairCount = 2L)
    val words = filter(split(col("kept_text"), " "), w => length(w) > 0)
    val scored = dd.select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        size(Bpe.encode(col("kept_text"), merges)).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0 &&
        col("n_tokens").cast("double") / col("n_words") <= fertilityMax)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val packed = Curation.packOffsets(scored, "doc_id", "n_tokens", ctxLen)
    scored.join(packed, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 9)
          .as("fertility"),
        col("start_offset"), col("pack_id"), col("pos_in_pack"))
  }

  private def q97CurationV3(s: SparkSession, dir: String): DataFrame =
    curationV3Pipeline(t(s, dir, "documents")).orderBy("doc_id")

  /** q99: MULTI-GRANULARITY span dedup
    * ([[graft.ops.Dedup.spanDedupCutMulti]], r17 stretch — the
    * variable-length composition): coarse k=12 global pass finds
    * duplicated windows and their cross-document pairs, a fine k=6 pass
    * cuts shorter shared spans WITHIN matched pairs only. The synthetic
    * corpus's duplicates are long verbatim copies (every fine span sits
    * inside a coarse one), so the gate corpus derives VARIANT documents
    * in-query — identically in both engines, the q14 shard-derivation
    * precedent: for each doc_id < 40 with ≥ 40 tokens, a variant
    * carrying the original's first 12 tokens (one coarse window — makes
    * the pair), 12 unique filler tokens, and tokens 30..37 (an 8-token
    * shared run only the fine stage can cut). String window keys for
    * the oracle; the production path hashes (OpsSpec pins identical).
    */
  private def q99MultiSpan(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.spanDedupCutMulti(
      multiSpanGateCorpus(s, dir), "doc_id", "text",
      kCoarse = 12, kFine = 6, hashWindows = false)
      .select(col("doc_id"), col("n_tokens"), col("cut_tokens"),
        round(col("keep_frac"), 9).as("keep_frac"))
      .orderBy("doc_id")

  /** The q99/q100 gate corpus: documents plus derived VARIANT rows that
    * make the fine stage load-bearing (the corpus's own duplicates are
    * long verbatim copies, so every fine span would sit inside a coarse
    * one) — for each doc_id < 40 with ≥ 40 tokens, a variant carrying
    * the original's first 12 tokens (one coarse window — makes the
    * pair), 12 unique filler tokens, and tokens 30..37 (an 8-token
    * shared run only the fine stage can cut). Derived IDENTICALLY in
    * the DuckDB oracles (the q14 shard-derivation precedent).
    */
  private def multiSpanGateCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val toks = split(graft.ops.TextAnalysis.normalize(col("text")), " ")
    val variants = docs
      .where(col("doc_id") < 40)
      // the filler references the SOURCE id under a name distinct from
      // the output alias: Spark resolves a same-select `doc_id` to the
      // LATERAL alias (the shifted id) while DuckDB resolves it to the
      // base column — an ambiguity q99's accounting masked (filler
      // windows are unique under either value) and q100's text exposed
      .select(col("doc_id").as("src_id"), toks.as("t"))
      .where(size(col("t")) >= 40 && !(col("t") === array(lit(""))))
      .select((col("src_id") + 1000000L).as("doc_id"),
        array_join(concat(
          slice(col("t"), 1, 12),
          transform(sequence(lit(1), lit(12)),
            i => concat(lit("fz"), col("src_id"), lit("x"), i)),
          slice(col("t"), 30, 8)), " ").as("text"))
    docs.unionByName(variants)
  }

  /** q100: the multi-granularity span-dedup TRANSFORM
    * ([[graft.ops.Dedup.spanDedupTextMulti]], r18 — q99's accounting
    * materialized the way q95 materializes q94): per document of the
    * q99 gate corpus, the normalized text with every coarse global
    * duplicate AND every fine within-pair span removed. The oracle
    * re-derives the full multi-granularity interval set (q99's stages)
    * and rebuilds kept text by position expansion + anti-join + ordered
    * string_agg (q95's formulation) — both differ from the Spark side's
    * interval-HOF filter. Exercises mid-doc fine cuts splicing across
    * the gap and empty-document collapse.
    */
  private def q100MultiSpanText(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.spanDedupTextMulti(
      multiSpanGateCorpus(s, dir), "doc_id", "text",
      kCoarse = 12, kFine = 6, hashWindows = false)
      .orderBy("doc_id")

  /** The q101 gate corpus: documents plus literal multi-byte rows (the
    * documents table is ASCII-dominated — the literals make multi-byte
    * UTF-8 boundaries load-bearing in the byte-level merge inventory).
    * The same literal rows appear verbatim in the oracle's VALUES list.
    */
  private def byteBpeGateCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val extra = Seq(
      (3000001L, "café crème déjà vu café crème déjà vu café crème"),
      (3000002L, "naïve αβγ δοκιμή αβγ δοκιμή naïve αβγ über"),
      (3000003L, "über żółć żółć żółć déjà straße straße"))
      .toDF("doc_id", "text")
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(extra)
  }

  /** q101: BYTE-LEVEL BPE (r18 — the GPT-2/LLaMA-lineage convention:
    * the base alphabet is the 256 UTF-8 bytes, so byte fallback makes
    * out-of-vocabulary symbols impossible and merges learn
    * sub-character structure of multi-byte scripts). Symbols are
    * canonically two-hex-digits-per-byte (binary order == byte order in
    * every engine — see [[graft.functions.expressions.BpeEncodeExpr]]).
    * Train 8 byte-level merges on documents + multi-byte literals,
    * encode the corpus with the native kernel, count tokens. The oracle
    * re-derives training from a hex-substr byte split of each word
    * (DuckDB `hex` over the word's UTF-8 bytes) through the q92/q93
    * unrolled stages — the symbol alphabet is the only change — and
    * counts tokens off the trained word table weighted by frequency.
    */
  private def q101BpeByte(s: SparkSession, dir: String): DataFrame = {
    val docs = byteBpeGateCorpus(s, dir)
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 8,
      minPairCount = 2L, byteLevel = true)
    docs.select(explode(
        graft.ops.Bpe.encode(col("text"), merges, byteLevel = true)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(40)
  }

  /** q103: eigenvalue-BALANCED OPQ gated through a NON-identity
    * permutation (r18 — closes the r17 gap where q98's d=2/m=2 made the
    * balance permutation the identity). The corpus is DERIVED in-query,
    * identically in DuckDB (the q14/q99 precedent): a full 2⁴ factorial
    * over `vec_id % 16` — dim j = bit_j·s_j + 1 with power-of-two
    * scales (8, 4, 2, 1), rows truncated to a multiple of 16 — which
    * makes the trainer's fixed-point covariance EXACTLY diagonal
    * (balanced independent bits; dyadic means/second moments make every
    * IEEE division exact, so the off-diagonals are 0.0 bit-for-bit).
    * The Jacobi loop therefore performs ZERO rotations and the trained
    * OPQ rotation is a pure PERMUTATION: eigen sort (16, 4, 1, 0.25)
    * then [[graft.ops.Similarity.balanceRotation]]'s level-constrained
    * greedy, which at m=2 allocates subspaces [e0, e3 | e1, e2] —
    * non-identity, so the permutation arithmetic is load-bearing in the
    * hash. The oracle re-derives the ALLOCATION FROM THE DATA
    * (fixed-point variances → eigen order with the stable tie rule →
    * the greedy's strict/tie CASE), applies the permuted centering, and
    * replays the full pipeline: q89's PQ machinery at subdim 2 (ksub=4,
    * one fixed-point Lloyd round), ADC, coarse-40 cut, exact-cosine
    * rerank over the ORIGINAL derived vectors.
    */
  private def q103OpqBalanced(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val embAll = t(s, dir, "embeddings")
    // control-plane corpus bound: factorial balance needs a multiple of
    // 16 rows (vec_ids are contiguous from 0 in this dataset)
    val nKeep = (embAll.count() / 16L) * 16L
    def bit(j: Int) = shiftright(col("vec_id") % 16, j) % 2
    val scales = Seq(8, 4, 2, 1)
    val corpus = embAll.where(col("vec_id") < nKeep)
      .select(col("vec_id"), array(
        scales.zipWithIndex.map { case (sc, j) =>
          (bit(j) * sc + 1).cast("double") }.toIndexedSeq: _*).as("v"))
    val (model, books) = Similarity.trainOpq(corpus, "vec_id", "v",
      m = 2, ksub = 4, iters = 1)
    Similarity.opqTopKPrecomputed(
      corpus, "vec_id", "v",
      corpus.where(col("vec_id") < 10), "vec_id", "v",
      k = 5, model, books, coarseK = 40)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q102: INCREMENTAL span dedup ([[graft.ops.Dedup.spanDedupCutDelta]],
    * r18 — the q74 delta-vs-base contract for the exact-substring
    * family): the even-doc_id half of the corpus is the BASE (only its
    * window-firsts INDEX is retained — the persistable state), the odd
    * half is the DELTA deduped against that index plus its own internal
    * firsts. The oracle recomputes fixed-k=8 span dedup over the WHOLE
    * corpus and restricts to delta ids — the min-struct union lattice
    * makes the incremental path coincide exactly, for any id
    * interleaving. String window keys for the oracle; OpsSpec pins the
    * hashed path identical and the index-merge fold law.
    */
  private def q102SpanDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(t(s, dir, "documents"))
    val idx = graft.ops.Dedup.spanDedupIndex(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
      k = 8, hashWindows = false)
    graft.ops.Dedup.spanDedupCutDelta(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text", idx,
      k = 8, hashWindows = false)
      .select(col("doc_id"), col("n_tokens"), col("cut_tokens"),
        round(col("keep_frac"), 9).as("keep_frac"))
      .orderBy("doc_id")
  }

  /** q104: incremental span-dedup TRANSFORM
    * ([[graft.ops.Dedup.spanDedupTextDelta]], r18 — the kept-text form
    * of q102's accounting): the odd-doc_id delta's cleaned text against
    * the even-half's persisted index. The oracle recomputes fixed-k=8
    * union firsts over the WHOLE corpus, rebuilds each delta doc's kept
    * text by position expansion (the q100 pattern), and restricts to
    * delta ids — equal by the min-struct union lattice.
    */
  private def q104SpanTextDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = fanOut(t(s, dir, "documents"))
    val idx = graft.ops.Dedup.spanDedupIndex(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
      k = 8, hashWindows = false)
    graft.ops.Dedup.spanDedupTextDelta(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text", idx,
      k = 8, hashWindows = false)
      .orderBy("doc_id")
  }

  /** q98: OPQ retrieval gated end-to-end (r17 — closes the one north-star
    * operator without a qNN gate). The corpus is the embeddings' first
    * TWO dimensions: at d=2 the PCA eigensolve is exactly ONE Jacobi
    * rotation (plus the code's conditional second-sweep micro-rotation),
    * so DuckDB re-derives the ENTIRE trained index — the fixed-point
    * Gram/mean fold, the Jacobi rotation with the SAME IEEE formula
    * sequence (sign/(|θ|+√(θ²+1)), both sweeps unrolled with the code's
    * 1e-14/1e-18 thresholds as CASE guards), eigen-order component sort,
    * the rotation projection, the fixed-point PQ Lloyd round over
    * ROTATED vectors (m=2 one-dim subspaces × 4 entries), ADC and the
    * exact-cosine rerank. Full-rank d=64 Jacobi stays OpsSpec-pinned
    * (iterated sweeps are not SQL-expressible — the documented boundary);
    * this gate proves the OPQ *pipeline* — rotation fold, rotated-space
    * training, fused code/LUT projections — against an independent
    * engine.
    */
  private def q98OpqAdc(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = t(s, dir, "embeddings").select(col("vec_id"),
      slice(col("embedding"), 1, 2).cast("array<double>").as("v2"))
    val (model, books) = Similarity.trainOpq(
      emb, "vec_id", "v2", m = 2, ksub = 4, iters = 1)
    Similarity.opqTopKPrecomputed(
      emb, "vec_id", "v2",
      emb.where(col("vec_id") < 10), "vec_id", "v2",
      k = 5, model, books, coarseK = 40)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q2_join_broadcast" -> (q2JoinBroadcast _),
    "q3_join_multi" -> (q3JoinMulti _),
    "q4_semi_join" -> (q4SemiJoin _),
    "q5_anti_join" -> (q5AntiJoin _),
    "q6_window_topn" -> (q6WindowTopN _),
    "q7_topk" -> (q7TopK _),
    "q8_set_ops" -> (q8SetOps _),
    "q9_rollup" -> (q9Rollup _),
    "q10_cube" -> (q10Cube _),
    "q11_distinct_agg" -> (q11DistinctAgg _),
    "q12_scalar" -> (q12Scalar _),
    "q13_changelog_materialize" -> (q13Materialize _),
    "q14_shard_merge" -> (q14ShardMerge _),
    "q15_window_running" -> (q15WindowRunning _),
    "q16_events_window" -> (q16EventsWindow _),
    "q17_transform_opconv" -> (q17TransformOpconv _),
    "q18_debezium_roundtrip" -> (q18DebeziumRoundtrip _),
    "q19_text_stats" -> (q19TextStats _),
    "q20_lang_id" -> (q20LangId _),
    "q21_dedup_exact" -> (q21DedupExact _),
    "q22_dedup_minhash" -> (q22DedupMinhash _),
    "q23_dedup_simhash" -> (q23DedupSimhash _),
    "q24_embed_topk" -> (q24EmbedTopK _),
    "q25_embed_ann_lsh" -> (q25EmbedAnnLsh _),
    "q26_fingerprint" -> (q26Fingerprint _),
    "q27_multimodal" -> (q27Multimodal _),
    "q28_functions" -> (q28Functions _),
    "q29_asof_join" -> (q29AsofJoin _),
    "q30_range_join" -> (q30RangeJoin _),
    "q31_session_window" -> (q31SessionWindow _),
    "q32_variant" -> (q32Variant _),
    "q33_embed_ivf" -> (q33EmbedIvf _),
    "q34_sketches" -> (q34Sketches _),
    "q35_grouping_sets" -> (q35GroupingSets _),
    "q36_regexp" -> (q36Regexp _),
    "q37_salted_join" -> (q37SaltedJoin _),
    "q38_subquery" -> (q38Subquery _),
    "q39_soft_delete" -> (q39SoftDelete _),
    "q40_canal_roundtrip" -> (q40CanalRoundtrip _),
    "q41_replace" -> (q41Replace _),
    "q42_repetition" -> (q42Repetition _),
    "q43_split" -> (q43Split _),
    "q44_decontam" -> (q44Decontam _),
    "q45_dedup_resolve" -> (q45DedupResolve _),
    "q46_pii" -> (q46Pii _),
    "q47_domain_mix" -> (q47DomainMix _),
    "q48_gopher_filter" -> (q48GopherFilter _),
    "q49_pack" -> (q49Pack _),
    "q50_clean" -> (q50Clean _),
    "q51_quantize" -> (q51Quantize _),
    "q52_pivot" -> (q52Pivot _),
    "q53_percentile" -> (q53Percentile _),
    "q54_temporal" -> (q54Temporal _),
    "q55_tokens" -> (q55Tokens _),
    "q56_line_dedup" -> (q56LineDedup _),
    "q57_lsh_exhaustive" -> (q57LshExhaustive _),
    "q58_ivf_exhaustive" -> (q58IvfExhaustive _),
    "q59_simhash_blocking" -> (q59SimhashBlocking _),
    "q60_mongo_roundtrip" -> (q60MongoRoundtrip _),
    "q61_cosine_pairs" -> (q61CosinePairs _),
    "q62_hll" -> (q62Hll _),
    "q63_cms" -> (q63Cms _),
    "q64_tfidf" -> (q64TfIdf _),
    "q65_dup_spans" -> (q65DupSpans _),
    "q66_jaccard_join" -> (q66JaccardJoin _),
    "q67_semdedup" -> (q67SemDedup _),
    "q68_lm_score" -> (q68LmScore _),
    "q69_dsir" -> (q69Dsir _),
    "q70_stratified" -> (q70Stratified _),
    "q71_collocations" -> (q71Collocations _),
    "q72_budgeted_quality" -> (q72BudgetedQuality _),
    "q73_rerank_topk" -> (q73RerankTopK _),
    "q74_incremental_dedup" -> (q74IncrementalDedup _),
    "q75_unicode_norm" -> (q75UnicodeNorm _),
    "q76_media_decode" -> (q76MediaDecode _),
    "q77_random_projection" -> (q77RandomProjection _),
    "q78_pca" -> (q78Pca _),
    "q79_connect_schema_roundtrip" -> (q79ConnectSchemaRoundtrip _),
    "q80_bm25" -> (q80Bm25 _),
    "q81_weighted_sample" -> (q81WeightedSample _),
    "q82_chunk" -> (q82Chunk _),
    "q83_curation_pipeline" -> (q83CurationPipeline _),
    "q84_hist_quantiles" -> (q84HistQuantiles _),
    "q85_curation_v2" -> (q85CurationV2 _),
    "q86_rrf_fusion" -> (q86RrfFusion _),
    "q87_zorder_layout" -> (q87ZorderLayout _),
    "q88_multi_lsh" -> (q88MultiLsh _),
    "q89_pq_adc" -> (q89PqAdc _),
    "q90_ivf_pq" -> (q90IvfPq _),
    "q91_editdist_join" -> (q91EditdistJoin _),
    "q92_bpe_train" -> (q92BpeTrain _),
    "q93_bpe_encode" -> (q93BpeEncode _),
    "q94_span_dedup" -> (q94SpanDedup _),
    "q95_span_dedup_text" -> (q95SpanDedupText _),
    "q96_bpe_fertility" -> (q96BpeFertility _),
    "q97_curation_v3" -> (q97CurationV3 _),
    "q98_opq_adc" -> (q98OpqAdc _),
    "q99_multi_span" -> (q99MultiSpan _),
    "q100_multi_span_text" -> (q100MultiSpanText _),
    "q101_bpe_byte" -> (q101BpeByte _),
    "q102_span_delta" -> (q102SpanDelta _),
    "q103_opq_balanced" -> (q103OpqBalanced _),
    "q104_span_text_delta" -> (q104SpanTextDelta _)
  )

  /** Shared DuckDB stages for the incremental span gates (q102/q104):
    * tokenization (`d`), fixed-k=8 windows (`w`), and whole-corpus
    * firsts numbering (`r` — `row_number` per window == the min-struct
    * union lattice). One definition so the tie rule cannot drift
    * between the accounting and TRANSFORM oracles (r18 review).
    */
  private def spanDeltaOracleStages: String =
    """d AS (
      |  SELECT doc_id, string_split(
      |    trim(regexp_replace(lower(coalesce(text, '')), '[^\p{L}\p{N}]+', ' ', 'g')),
      |    ' ') AS t
      |  FROM documents),
      |w AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS win
      |  FROM d, unnest(generate_series(1, len(t) - 7)) AS u(i)
      |  WHERE len(t) >= 8),
      |r AS (SELECT doc_id, pos,
      |  row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
        |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join_broadcast" ->
      """SELECT p_brand, count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_join_multi" ->
      """SELECT r_name, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer WHERE EXISTS
        |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_anti_join" ->
      """SELECT p_partkey, p_name FROM part WHERE NOT EXISTS
        |  (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
        |     AND l_quantity >= 49)
        |ORDER BY p_partkey""".stripMargin,
    "q6_window_topn" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q7_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 10""".stripMargin,
    "q8_set_ops" ->
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey AS nationkey FROM supplier
        |  UNION ALL
        |  SELECT -nationkey FROM (
        |    SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |    EXCEPT
        |    SELECT s_nationkey AS nationkey FROM supplier))
        |ORDER BY nationkey""".stripMargin,
    "q9_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q10_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q11_distinct_agg" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_scalar" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS prio_upper,
        |  substr(o_orderpriority, 1, 3) AS prio_pfx,
        |  length(o_orderpriority) AS prio_len,
        |  o_orderstatus || '/' || o_orderpriority AS tag,
        |  year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_month,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  round(o_totalprice / 1000.0, 2) AS kprice,
        |  o_orderkey % 7 AS key_mod
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "q13_changelog_materialize" ->
      """WITH cl AS (
        |  SELECT user_id, round(value, 2) AS last_value,
        |    CASE event_type WHEN 'signup' THEN '+I'
        |      WHEN 'error' THEN '-D' ELSE '+U' END AS op,
        |    event_id AS seq
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn FROM cl)
        |SELECT user_id, last_value FROM ranked
        |WHERE rn = 1 AND op <> '-D' ORDER BY user_id""".stripMargin,
    "q14_shard_merge" ->
      """SELECT c_custkey, c_name, c_nationkey, NULL::DOUBLE AS c_acctbal
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin,
    "q15_window_running" ->
      """SELECT l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER w AS running_qty,
        |  round(avg(l_discount) OVER w, 6) AS running_disc
        |FROM lineitem WHERE l_orderkey < 100
        |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q16_events_window" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q17_transform_opconv" ->
      """WITH cl AS (
        |  SELECT user_id, round(value, 2) AS v, event_id AS seq,
        |    CASE event_type WHEN 'signup' THEN 'I'
        |      WHEN 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |conv AS (
        |  SELECT user_id, v, seq,
        |    CASE WHEN op IN ('I','U') AND v > 50 THEN 'I'
        |         WHEN op = 'D' AND v > 50 THEN 'D' END AS newop
        |  FROM cl),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn
        |  FROM conv WHERE newop IS NOT NULL)
        |SELECT user_id, round(v * 10, 2) AS v10 FROM ranked
        |WHERE rn = 1 AND newop <> 'D' ORDER BY user_id""".stripMargin,
    "q18_debezium_roundtrip" ->
      """WITH cl AS (
        |  SELECT user_id, round(value, 2) AS last_value,
        |    CASE event_type WHEN 'signup' THEN '+I'
        |      WHEN 'error' THEN '-D' ELSE '+U' END AS op,
        |    event_id AS seq
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn FROM cl)
        |SELECT user_id, last_value FROM ranked
        |WHERE rn = 1 AND op <> '-D' ORDER BY user_id""".stripMargin,
    "q19_text_stats" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |    CASE WHEN length(text) = 0 THEN 0
        |      ELSE len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE / length(text) END AS praw,
        |    CASE WHEN length(text) = 0 THEN 0
        |      ELSE len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text) END AS draw
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
        |  round(praw, 6) AS punct_ratio,
        |  round(draw, 6) AS digit_ratio,
        |  round(CASE WHEN len(toks) = 0 THEN 0
        |    ELSE list_sum([length(x) for x in toks])::DOUBLE / len(toks) END, 6) AS mean_tok_len,
        |  round(
        |    least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
        |    + least(CASE WHEN len(toks) = 0 THEN 0
        |        ELSE len(list_filter(toks, x -> list_contains(
        |          ['the','a','an','and','of','to','in','is','it','that','for','on','with','as'],
        |          x)))::DOUBLE / len(toks) END * 4.0, 1.0) * 0.3
        |    + (1.0 - least(praw * 5.0, 1.0)) * 0.2
        |    + (1.0 - least(draw * 5.0, 1.0)) * 0.1, 6) AS quality
        |FROM d ORDER BY doc_id""".stripMargin,
    "q20_lang_id" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> list_contains(['der','und','nicht','das','ist','ich','mit','sich'], x))) AS de,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','is','that','with','for','this'], x))) AS en,
        |    len(list_filter(toks, x -> list_contains(['que','los','una','por','con','para','está','las'], x))) AS es,
        |    len(list_filter(toks, x -> list_contains(['les','est','une','dans','pour','qui','pas','vous'], x))) AS fr,
        |    len(regexp_extract_all(text, '的')) + len(regexp_extract_all(text, '是'))
        |      + len(regexp_extract_all(text, '了')) + len(regexp_extract_all(text, '在'))
        |      + len(regexp_extract_all(text, '我')) + len(regexp_extract_all(text, '有'))
        |      + len(regexp_extract_all(text, '和')) + len(regexp_extract_all(text, '不')) AS zh
        |  FROM d)
        |SELECT lang_guess, count(*) AS n_docs FROM (
        |  SELECT CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
        |    WHEN zh > greatest(de, en, es, fr) THEN 'zh'
        |    WHEN fr > greatest(de, en, es) THEN 'fr'
        |    WHEN es > greatest(de, en) THEN 'es'
        |    WHEN en > de THEN 'en'
        |    ELSE 'de' END AS lang_guess
        |  FROM s)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')) AS key
        |  FROM documents)
        |GROUP BY key ORDER BY keep_id""".stripMargin,
    "q22_dedup_minhash" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |      '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          for i in range(1, len(toks) - 1)] END) AS sh
        |  FROM d),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |  FROM sh a JOIN sh b
        |    ON a.doc_id < b.doc_id
        |   AND least(len(a.sh), len(b.sh))::DOUBLE / greatest(len(a.sh), len(b.sh)) >= 0.6)
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs
        |WHERE j >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    "q23_dedup_simhash" ->
      // same md5-derived 60-bit simhash as q59, brute-forced at the q23
      // geometry's threshold (Hamming <= 2) — ground truth for the
      // 2-of-4-chunk pigeonhole blocking's exact-recall claim
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(
        |      trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |      ' ') AS toks
        |  FROM documents),
        |hx AS (
        |  SELECT doc_id, len(toks) AS n,
        |    [[strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1
        |      for i in range(1, 16)] for t in toks] AS hs
        |  FROM d),
        |sh AS (
        |  SELECT doc_id,
        |    list_sum([(1::BIGINT << b) * (CASE WHEN
        |        2 * list_sum([(h[15 - b // 4] >> (b % 4)) & 1 for h in hs]) > n
        |      THEN 1 ELSE 0 END) for b in range(0, 60)])::BIGINT AS sim
        |  FROM hx)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q24_embed_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, e.v)
        |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS c
        |  FROM e, q WHERE e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c, 9) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q25_embed_ann_lsh" ->
      // re-derives the md5 dyadic-rational hyperplanes (exact doubles in
      // both engines), recomputes the 16-bucket sign partition, then the
      // per-probe cosine top-k over each query's Hamming-1 probe set
      // (own bucket + 4 one-bit flips) — the APPROXIMATE selection
      // itself is the ground truth being checked
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pl AS (
        |  SELECT p, [(('0x' || substr(md5('q25:' || p::VARCHAR || ':' || i::VARCHAR),
        |      1, 8))::UBIGINT / 4294967296.0) - 0.5
        |    for i in range(0, 64)] AS plane
        |  FROM range(0, 4) t(p)),
        |b AS (
        |  SELECT e.vec_id,
        |    sum(CASE WHEN list_dot_product(pl.plane, e.v) > 0
        |      THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
        |  FROM e, pl GROUP BY e.vec_id),
        |cb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN b USING (vec_id)),
        |q AS (
        |  SELECT vec_id AS qid, v AS qv,
        |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
        |            xor(bucket, 4), xor(bucket, 8)]) AS bucket
        |  FROM cb WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.qid AS query_id, cb.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, cb.v)
        |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cb.v, cb.v))) AS c
        |  FROM cb JOIN q USING (bucket) WHERE cb.vec_id <> q.qid),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c, 9) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q26_fingerprint" ->
      """WITH g AS (
        |  SELECT trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')) AS key,
        |    count(*) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT group_size, count(*) AS n_groups FROM g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_multimodal" ->
      """SELECT doc_id AS media_id, length(text) AS byte_len,
        |  16 AS feature_dim,
        |  greatest(ceil(length(text) / 256.0)::INT, 1) AS n_frames
        |FROM documents WHERE doc_id < 100 ORDER BY media_id""".stripMargin,
    "q28_functions" ->
      """SELECT o_orderkey,
        |  lpad(o_orderstatus, 5, '*') AS lpadded,
        |  rpad(o_orderstatus, 5, '#') AS rpadded,
        |  repeat(o_orderstatus, 3) AS repeated,
        |  replace(o_orderpriority, '-', '_') AS replaced,
        |  left(o_orderpriority, 3) AS left3,
        |  right(o_orderpriority, 3) AS right3,
        |  strpos(o_orderpriority, '-') AS dash_pos,
        |  o_orderstatus || '/' || o_orderpriority AS joined,
        |  reverse(o_orderpriority) AS reversed,
        |  ascii(o_orderstatus) AS status_ascii,
        |  regexp_full_match(o_orderpriority, '[0-9]-[A-Z ]+') AS prio_shape,
        |  o_orderpriority AS rt,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS sdf_ts,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  quarter(o_orderdate) AS qtr,
        |  epoch(o_orderdate)::BIGINT AS epoch_s,
        |  strftime(o_orderdate + INTERVAL 5 DAY, '%Y-%m-%d') AS plus5d,
        |  48 AS diff_hr
        |FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""".stripMargin,
    "q29_asof_join" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, round(value, 2) AS amount
        |  FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT event_id, user_id FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.amount,
        |  c.event_id AS last_click_id
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.event_id >= c.event_id
        |ORDER BY p.event_id""".stripMargin,
    "q30_range_join" ->
      """SELECT o_orderkey, count(*) AS n_quick_ships
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate BETWEEN o_orderdate
        |  AND o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_session_window" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts)::TIMESTAMP AS ts_s, value
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN ts_s - lag(ts_s) OVER w > INTERVAL 30 MINUTE
        |    OR lag(ts_s) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)),
        |sessions AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_s ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id, min(ts_s) AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q32_variant" ->
      """SELECT json_extract(props, '$.k')::INT % 10 AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q33_embed_ivf" ->
      // centroids = the 16 smallest-id vectors (iters=0, data-derived);
      // assignment/probing by squared-L2 accumulated in INDEX ORDER
      // (list_reduce left fold == the kernel's sequential loop), ties to
      // the smaller centroid id; then cosine top-k over the probed lists.
      // The APPROXIMATE nprobe=4-of-16 selection is the ground truth.
      // fixed-point Lloyd (r15): each round assigns by index-order
      // squared-L2 left fold, then re-derives means from floor(x*2^24+0.5)
      // BIGINT sums — exact integer adds, so the 3 trained rounds match
      // Spark's trainer bit-for-bit; empty clusters keep their centroid
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent0 AS (
        |  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, v AS cv
        |  FROM e ORDER BY vec_id LIMIT 16),
        |a0 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.cid ASC) AS rn
        |  FROM e, cent0 c) WHERE rn = 1),
        |m0 AS (SELECT cid, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.cid, t.i AS i,
        |      sum(floor(a.v[t.i] * 16777216.0 + 0.5)::BIGINT) AS s, count(*) AS n
        |    FROM a0 a, range(1, 65) t(i) GROUP BY a.cid, t.i) GROUP BY cid),
        |cent1 AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv
        |  FROM cent0 c LEFT JOIN m0 m USING (cid)),
        |a1 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.cid ASC) AS rn
        |  FROM e, cent1 c) WHERE rn = 1),
        |m1 AS (SELECT cid, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.cid, t.i AS i,
        |      sum(floor(a.v[t.i] * 16777216.0 + 0.5)::BIGINT) AS s, count(*) AS n
        |    FROM a1 a, range(1, 65) t(i) GROUP BY a.cid, t.i) GROUP BY cid),
        |cent2 AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv
        |  FROM cent1 c LEFT JOIN m1 m USING (cid)),
        |a2 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.cid ASC) AS rn
        |  FROM e, cent2 c) WHERE rn = 1),
        |m2 AS (SELECT cid, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.cid, t.i AS i,
        |      sum(floor(a.v[t.i] * 16777216.0 + 0.5)::BIGINT) AS s, count(*) AS n
        |    FROM a2 a, range(1, 65) t(i) GROUP BY a.cid, t.i) GROUP BY cid),
        |cent AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv
        |  FROM cent2 c LEFT JOIN m2 m USING (cid)),
        |dist AS (
        |  SELECT e.vec_id, cent.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])),
        |      (a, b) -> a + b) AS d2
        |  FROM e, cent),
        |rk AS (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2 ASC, cid ASC) AS rn FROM dist),
        |assign AS (SELECT vec_id, cid FROM rk WHERE rn = 1),
        |probe AS (SELECT vec_id AS qid, cid FROM rk WHERE rn <= 4 AND vec_id < 10),
        |scored AS (
        |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
        |    list_dot_product(qe.v, ne.v)
        |      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))) AS c
        |  FROM probe p JOIN assign a USING (cid)
        |    JOIN e ne ON ne.vec_id = a.vec_id
        |    JOIN e qe ON qe.vec_id = p.qid
        |  WHERE a.vec_id <> p.qid),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c, 9) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q34_sketches" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey)::BIGINT AS exact_parts,
        |  1::BIGINT AS approx_ok, 1::BIGINT AS p50_ok,
        |  1::BIGINT AS p95_ok, 1::BIGINT AS cms_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q35_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  grouping(o_orderstatus) AS g_status,
        |  grouping(o_orderpriority) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |  g_status, g_prio""".stripMargin,
    "q36_regexp" ->
      """SELECT doc_id,
        |  regexp_extract(text, '(\w+) (\w+)', 2) AS second_word,
        |  len(regexp_extract_all(text, 'ta[a-z]+')) AS n_ta,
        |  substr(regexp_replace(text, '[aeiou]', '', 'g'), 1, 20) AS devoweled,
        |  len(string_split_regex(text, ' value ')) AS n_value_splits,
        |  regexp_matches(text, 'spark .* spark') AS double_spark
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "q37_salted_join" ->
      """SELECT p_brand, count(*) AS n, sum(l_quantity) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q38_subquery" ->
      """SELECT c_custkey, c_nationkey, c_acctbal AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q39_soft_delete" ->
      """WITH cl AS (
        |  SELECT user_id, round(value, 2) AS v, event_id AS seq,
        |    CASE event_type WHEN 'signup' THEN '+I'
        |      WHEN 'error' THEN '-D' ELSE '+U' END AS op_type
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn FROM cl)
        |SELECT user_id, v, op_type FROM ranked
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q40_canal_roundtrip" ->
      """WITH cl AS (
        |  SELECT user_id, round(value, 2) AS last_value,
        |    CASE event_type WHEN 'signup' THEN '+I'
        |      WHEN 'error' THEN '-D' ELSE '+U' END AS op,
        |    event_id AS seq
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn FROM cl)
        |SELECT user_id, last_value FROM ranked
        |WHERE rn = 1 AND op <> '-D' ORDER BY user_id""".stripMargin,
    "q41_replace" ->
      """WITH cl AS (
        |  SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
        |    CASE WHEN event_type = 'error' THEN '-D' ELSE '+R' END AS op,
        |    event_id AS seq
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn FROM cl)
        |SELECT user_id, last_type, last_value FROM ranked
        |WHERE rn = 1 AND op = '+R' ORDER BY user_id""".stripMargin,
    "q42_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (
        |  SELECT doc_id, words, len(words) AS n,
        |    list_transform(range(1, len(words)),
        |      i -> words[i] || ' ' || words[i+1]) AS bigrams
        |  FROM w)
        |SELECT doc_id, n::BIGINT AS n_words,
        |  CASE WHEN n > 0
        |    THEN (n - len(list_distinct(words)))::DOUBLE / n ELSE 0.0
        |  END AS dup_word_frac,
        |  CASE WHEN n > 0
        |    THEN list_max(list_transform(list_distinct(words),
        |           x -> len(list_filter(words, y -> y = x))))::DOUBLE / n
        |    ELSE 0.0 END AS top_word_frac,
        |  CASE WHEN n >= 2
        |    THEN list_max(list_transform(list_distinct(bigrams),
        |           x -> len(list_filter(bigrams, y -> y = x))))::DOUBLE / (n - 1)
        |    ELSE 0.0 END AS top_bigram_frac
        |FROM c ORDER BY doc_id""".stripMargin,
    "q43_split" ->
      """SELECT
        |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < '1999'
        |    THEN 'val' ELSE 'train' END AS split,
        |  count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS sum_ids
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q44_decontam" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(words) >= 3
        |    THEN list_transform(range(1, len(words) - 1),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
        |    ELSE [] END) AS gram
        |  FROM w),
        |probe AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5)
        |SELECT g.doc_id, count(DISTINCT g.gram)::BIGINT AS n_matched
        |FROM g JOIN probe USING (gram)
        |WHERE g.doc_id >= 5
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q45_dedup_resolve" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |      '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          for i in range(1, len(toks) - 1)] END) AS sh
        |  FROM d),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b
        |    ON a.doc_id < b.doc_id
        |   AND least(len(a.sh), len(b.sh))::DOUBLE / greatest(len(a.sh), len(b.sh)) >= 0.6
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS doc_id, min(v)::BIGINT AS cluster_rep
        |FROM reach GROUP BY u ORDER BY u""".stripMargin,
    "q46_pii" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    'contact user' || doc_id::VARCHAR || '@' || source ||
        |    '.org call 202-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
        |    ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
        |    ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.7 ' || text AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |  len(regexp_extract_all(t,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phone,
        |  len(regexp_extract_all(t,
        |    '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
        |  len(regexp_extract_all(t,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
        |  substr(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IPV4]', 'g'),
        |    1, 96) AS redacted_prefix
        |FROM s ORDER BY doc_id""".stripMargin,
    "q47_domain_mix" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'c000' WHEN 'src1' THEN '8000'
        |    WHEN 'src2' THEN '4000' ELSE '1999' END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q48_gopher_filter" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (
        |  SELECT doc_id, len(words) AS n,
        |    (len(words) - len(list_distinct(words)))::DOUBLE / len(words) AS dup,
        |    list_max(list_transform(list_distinct(words),
        |      x -> len(list_filter(words, y -> y = x))))::DOUBLE / len(words) AS topw,
        |    list_sum(list_transform(words, x -> len(x)))::DOUBLE / len(words) AS meanlen
        |  FROM w),
        |r AS (
        |  SELECT doc_id, list_filter([
        |    CASE WHEN n < 30 THEN 'too_short' END,
        |    CASE WHEN n > 90 THEN 'too_long' END,
        |    CASE WHEN dup > 0.55 THEN 'dup_words' END,
        |    CASE WHEN topw > 0.12 THEN 'top_word' END,
        |    CASE WHEN meanlen < 4.2 THEN 'short_tokens' END,
        |    CASE WHEN meanlen > 4.8 THEN 'long_tokens' END],
        |    x -> x IS NOT NULL) AS reasons
        |  FROM c)
        |SELECT doc_id, len(reasons) = 0 AS pass,
        |  coalesce(array_to_string(reasons, ','), '') AS reasons
        |FROM r ORDER BY doc_id""".stripMargin,
    "q49_pack" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split(trim(text), ' ')) END AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT doc_id,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        |  FROM c)
        |SELECT doc_id, s::BIGINT AS start_offset,
        |  (s // 512)::BIGINT AS pack_id, (s % 512)::BIGINT AS pos_in_pack
        |FROM o ORDER BY doc_id""".stripMargin,
    "q50_clean" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    '<div id="' || source || '" class=''c''>' || chr(10) || '  <p>' ||
        |    substr(text, 1, 60) ||
        |    '</p><br/>tail &amp; more&nbsp;&lt;ok&gt;</div>' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(t, '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS cleaned,
        |  length(t)::BIGINT AS orig_len
        |FROM s ORDER BY doc_id""".stripMargin,
    "q51_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
        |      AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale, embedding,
        |    list_transform(embedding, x ->
        |      CASE WHEN scale = 0 THEN 0
        |        ELSE floor(x::DOUBLE / scale + 0.5)::BIGINT END) AS qs
        |  FROM s)
        |SELECT vec_id, scale,
        |  list_sum(qs)::BIGINT AS q_sum,
        |  list_max(list_transform(range(1, len(embedding) + 1), i ->
        |    abs(embedding[i]::DOUBLE - qs[i]::DOUBLE * scale))) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q52_pivot" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (o_orderpriority = '1-URGENT')::BIGINT AS "1-URGENT",
        |  count(*) FILTER (o_orderpriority = '2-HIGH')::BIGINT AS "2-HIGH",
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM')::BIGINT AS "3-MEDIUM",
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED')::BIGINT
        |    AS "4-NOT SPECIFIED",
        |  count(*) FILTER (o_orderpriority = '5-LOW')::BIGINT AS "5-LOW"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  count(*)::BIGINT AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_temporal" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 10 = 0 THEN (event_id % 24 + 1) % 24
        |         ELSE event_id % 24 END AS h,
        |    (event_id * 7) % 60 AS m,
        |    (event_id * 13) % 60 AS s,
        |    event_id % 1000 AS ms,
        |    CASE event_id % 4 WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
        |      WHEN 2 THEN '-08:00' ELSE '+02:00' END AS tz,
        |    strftime(make_timestamp((1700000000 + event_id % 100000) * 1000000),
        |      '%Y-%m-%dT%H:%M:%S') AS local_str
        |  FROM events),
        |d AS (
        |  SELECT *, make_time(h, m, s + ms/1000.0) AS tval,
        |    (local_str || tz)::TIMESTAMPTZ AS tsz
        |  FROM e)
        |SELECT event_id,
        |  CAST(round(extract(epoch FROM tval) * 1000) AS INTEGER) AS time_millis,
        |  lpad(h::VARCHAR,2,'0') || ':' || lpad(m::VARCHAR,2,'0') || ':' ||
        |    lpad(s::VARCHAR,2,'0') || '.' || lpad(ms::VARCHAR,3,'0') AS time_str,
        |  epoch_us(tsz) AS ts_micros,
        |  local_str || tz AS ts_str,
        |  tz
        |FROM d ORDER BY event_id""".stripMargin,
    "q55_tokens" ->
      """SELECT doc_id,
        |  (CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_extract_all(trim(text), '\S+')) END)::BIGINT AS n_ws,
        |  (len(regexp_extract_all(text, '\w+|[^\w\s]'))
        |    + len(regexp_extract_all(text, '\w{7,12}'))
        |    + 2 * len(regexp_extract_all(text, '\w{13,}')))::BIGINT AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q56_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (
        |  SELECT doc_id, ws,
        |    unnest(range(((len(ws) + 5) // 6)::BIGINT)) AS pos FROM w),
        |ex AS (
        |  SELECT doc_id, pos,
        |    array_to_string(list_slice(ws, pos*6 + 1, pos*6 + 6), ' ') AS line,
        |    doc_id*1000000 + pos AS key
        |  FROM p),
        |f AS (SELECT line, min(key) AS first FROM ex GROUP BY line)
        |SELECT ex.doc_id,
        |  coalesce(string_agg(CASE WHEN key = first THEN line END,
        |    chr(10) ORDER BY pos), '') AS kept_text,
        |  count(*)::BIGINT AS n_lines,
        |  count(CASE WHEN key <> first THEN 1 END)::BIGINT AS n_removed
        |FROM ex JOIN f USING (line)
        |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin,
    "q57_lsh_exhaustive" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id >= 10 AND vec_id < 20),
        |scored AS (
        |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, e.v)
        |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS c
        |  FROM e, q WHERE e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c, 9) AS cos
        |FROM ranked WHERE rank <= 7 ORDER BY query_id, rank""".stripMargin,
    "q58_ivf_exhaustive" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id >= 20 AND vec_id < 30),
        |scored AS (
        |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, e.v)
        |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS c
        |  FROM e, q WHERE e.vec_id <> q.qid),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c, 9) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q59_simhash_blocking" ->
      // same md5-derived 60-bit simhash as the Spark side, then
      // brute-force ALL pairs at Hamming <= 3 — ground truth for the
      // pigeonhole blocking's exact-recall claim
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(
        |      trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |      ' ') AS toks
        |  FROM documents),
        |hx AS (
        |  SELECT doc_id, len(toks) AS n,
        |    [[strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1
        |      for i in range(1, 16)] for t in toks] AS hs
        |  FROM d),
        |sh AS (
        |  SELECT doc_id,
        |    list_sum([(1::BIGINT << b) * (CASE WHEN
        |        2 * list_sum([(h[15 - b // 4] >> (b % 4)) & 1 for h in hs]) > n
        |      THEN 1 ELSE 0 END) for b in range(0, 60)])::BIGINT AS sim
        |  FROM hx)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q60_mongo_roundtrip" ->
      // clicks are update events whose post-image lookup lost to a
      // delete — the decoder drops them, so they must not affect state
      """WITH cl AS (
        |  SELECT user_id, round(value, 2) AS last_value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'R' END AS op,
        |    event_id AS seq
        |  FROM events WHERE event_type <> 'click'),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn FROM cl)
        |SELECT user_id, last_value FROM ranked
        |WHERE rn = 1 AND op = 'R' ORDER BY user_id""".stripMargin,
    "q61_cosine_pairs" ->
      // exact brute-force cosine pair set at the same threshold; the
      // filter applies BEFORE rounding, as in the Spark operator
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 9) AS cos
        |FROM p WHERE c >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    "q62_hll" ->
      // same md5-derived registers; s_total is integer-exact, so the
      // single IEEE division reproduces Spark's estimate bit-for-bit
      """WITH h AS (
        |  SELECT l_returnflag AS g,
        |    ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM lineitem),
        |r AS (
        |  SELECT g, hv >> 56 AS register,
        |    max(least(CASE WHEN (hv & ((1::BIGINT << 56) - 1)) = 0 THEN 40
        |      ELSE 57 - length(bin(hv & ((1::BIGINT << 56) - 1))) END, 40)) AS rho
        |  FROM h GROUP BY 1, 2),
        |regs AS (
        |  SELECT * FROM r
        |  UNION ALL
        |  SELECT 'ALL' AS g, register, max(rho) AS rho FROM r GROUP BY 2, 1),
        |est AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS regs_used,
        |    CAST(sum(1::BIGINT << (46 - rho)) +
        |      (16 - count(*)) * (1::BIGINT << 46) AS BIGINT) AS s_total
        |  FROM regs GROUP BY 1),
        |nd AS (
        |  SELECT l_returnflag AS g,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS true_nd
        |  FROM lineitem GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |  FROM lineitem)
        |SELECT e.g AS l_returnflag, e.regs_used, e.s_total,
        |  round(0.673::DOUBLE * 256::DOUBLE * 70368744177664::DOUBLE
        |    / e.s_total, 4) AS hll_estimate,
        |  nd.true_nd
        |FROM est e JOIN nd ON e.g = nd.g
        |ORDER BY l_returnflag""".stripMargin,
    "q63_cms" ->
      // identical d=4 x w=64 counter matrix from md5 row-hashes; probe
      // with the ten most frequent suppkeys, integer min-over-rows
      """WITH kc AS (
        |  SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1),
        |probe AS (
        |  SELECT l_suppkey, c FROM kc
        |  ORDER BY c DESC, l_suppkey ASC LIMIT 10),
        |sketch AS (
        |  SELECT r.r AS rr,
        |    ('0x' || substr(md5(r.r::VARCHAR || ':' || kc.l_suppkey::VARCHAR),
        |      1, 8))::BIGINT % 64 AS bucket,
        |    CAST(sum(kc.c) AS BIGINT) AS cnt
        |  FROM kc, range(4) r(r) GROUP BY 1, 2),
        |est AS (
        |  SELECT p.l_suppkey, p.c, min(s.cnt) AS cms_estimate
        |  FROM probe p, range(4) r(r)
        |  JOIN sketch s ON s.rr = r.r AND s.bucket =
        |    ('0x' || substr(md5(r.r::VARCHAR || ':' || p.l_suppkey::VARCHAR),
        |      1, 8))::BIGINT % 64
        |  GROUP BY 1, 2)
        |SELECT l_suppkey, CAST(c AS BIGINT) AS true_cnt,
        |  CAST(cms_estimate AS BIGINT) AS cms_estimate
        |FROM est ORDER BY true_cnt DESC, l_suppkey ASC""".stripMargin,
    "q64_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ')) AS term
        |  FROM documents WHERE doc_id < 200),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM tok WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |r AS (SELECT doc_id, term, tf, df,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf DESC, df ASC, term ASC) AS rank
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, rank FROM r WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,
    "q65_dup_spans" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(
        |    [array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)]) AS win
        |  FROM d WHERE len(t) >= 8),
        |dw AS (SELECT win, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY 1),
        |st AS (SELECT w.doc_id, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN dw.ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_windows
        |  FROM w JOIN dw USING (win) GROUP BY 1)
        |SELECT d.doc_id, coalesce(st.n_windows, 0)::BIGINT AS n_windows,
        |  coalesce(st.dup_windows, 0)::BIGINT AS dup_windows,
        |  CASE WHEN st.n_windows > 0
        |    THEN st.dup_windows / CAST(st.n_windows AS DOUBLE) ELSE 0.0
        |  END AS dup_frac
        |FROM d LEFT JOIN st USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // brute-force exact Jaccard over all pairs (the size-ratio join
    // predicate is exact-safe: J >= t implies min/max >= t)
    "q66_jaccard_join" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |      '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          for i in range(1, len(toks) - 1)] END) AS sh
        |  FROM d),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |  FROM sh a JOIN sh b
        |    ON a.doc_id < b.doc_id
        |   AND least(len(a.sh), len(b.sh))::DOUBLE / greatest(len(a.sh), len(b.sh)) >= 0.6)
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs
        |WHERE j >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    // exhaustive SemDeDup: all-pairs cosine at the threshold, duplicate
    // groups via recursive min-label closure, keep = smallest id
    "q67_semdedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id < 2000),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |pairs AS (SELECT id_a, id_b FROM p WHERE c >= 0.4),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS vec_id, min(v)::BIGINT AS rep,
        |  (u = min(v))::INT AS keep
        |FROM reach GROUP BY u ORDER BY u""".stripMargin,
    // same tokenizer + minCount fold + <unk> backoff as the operator;
    // integer evidence columns and one IEEE division only (no ln)
    "q68_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |c AS (SELECT term, count(*)::BIGINT AS raw FROM t GROUP BY 1),
        |m AS (SELECT CASE WHEN raw < 5 THEN '<unk>' ELSE term END AS term,
        |  sum(raw)::BIGINT AS cnt FROM c GROUP BY 1),
        |u AS (SELECT greatest(
        |  coalesce(max(CASE WHEN term = '<unk>' THEN cnt END), 0), 1) AS unk FROM m),
        |s AS (SELECT doc_id, m.cnt IS NULL AS oov,
        |  coalesce(m.cnt, (SELECT unk FROM u)) AS cnt
        |  FROM t LEFT JOIN m ON t.term = m.term)
        |SELECT doc_id, n_tok, n_oov, sum_cnt,
        |  round(sum_cnt / n_tok, 6) AS avg_cnt
        |FROM (
        |  SELECT doc_id, count(*)::BIGINT AS n_tok,
        |    sum(CASE WHEN oov THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |    sum(cnt)::BIGINT AS sum_cnt
        |  FROM s GROUP BY 1)
        |ORDER BY doc_id""".stripMargin,
    "q69_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |tt AS (SELECT t.doc_id, term FROM t
        |  JOIN documents d ON t.doc_id = d.doc_id WHERE d.lang = 'en'),
        |mt AS (SELECT CASE WHEN raw < 5 THEN '<unk>' ELSE term END AS term,
        |  sum(raw)::BIGINT AS cnt
        |  FROM (SELECT term, count(*)::BIGINT AS raw FROM tt GROUP BY 1) GROUP BY 1),
        |mb AS (SELECT CASE WHEN raw < 5 THEN '<unk>' ELSE term END AS term,
        |  sum(raw)::BIGINT AS cnt
        |  FROM (SELECT term, count(*)::BIGINT AS raw FROM t GROUP BY 1) GROUP BY 1),
        |ut AS (SELECT greatest(
        |  coalesce(max(CASE WHEN term = '<unk>' THEN cnt END), 0), 1) AS unk FROM mt),
        |ub AS (SELECT greatest(
        |  coalesce(max(CASE WHEN term = '<unk>' THEN cnt END), 0), 1) AS unk FROM mb),
        |s AS (SELECT doc_id,
        |  coalesce(mt.cnt, (SELECT unk FROM ut)) AS tc,
        |  coalesce(mb.cnt, (SELECT unk FROM ub)) AS bc
        |  FROM t LEFT JOIN mt ON t.term = mt.term
        |         LEFT JOIN mb ON t.term = mb.term)
        |SELECT doc_id, count(*)::BIGINT AS n_tok,
        |  sum(tc)::BIGINT AS sum_t_cnt, sum(bc)::BIGINT AS sum_b_cnt
        |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // brute-force per-stratum window with the same md5 draw: the
    // threshold-refinement path must select the IDENTICAL quota rows
    "q70_stratified" ->
      """SELECT doc_id, lang, rank FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
        |      doc_id) AS rank
        |  FROM documents)
        |WHERE rank <= 50 ORDER BY lang, rank""".stripMargin,
    "q71_collocations" ->
      """WITH d AS (
        |  SELECT string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ') AS t
        |  FROM documents),
        |w AS (SELECT t FROM d WHERE len(t) > 0 AND t[1] <> ''),
        |bg AS (SELECT unnest(
        |  [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bigram FROM w),
        |bc AS (SELECT bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY 1),
        |uni AS (SELECT unnest(t) AS term FROM w),
        |uc AS (SELECT term, count(*)::BIGINT AS ucnt FROM uni GROUP BY 1),
        |top AS (SELECT bigram, cnt,
        |  string_split(bigram, ' ')[1] AS l_term,
        |  string_split(bigram, ' ')[2] AS r_term
        |  FROM bc ORDER BY cnt DESC, bigram ASC LIMIT 100)
        |SELECT bigram, cnt, l_term, r_term,
        |  lu.ucnt AS l_cnt, ru.ucnt AS r_cnt
        |FROM top
        |JOIN uc lu ON l_term = lu.term
        |JOIN uc ru ON r_term = ru.term
        |ORDER BY cnt DESC, bigram ASC""".stripMargin,
    "q72_budgeted_quality" ->
      """SELECT doc_id, source, n_chars, quality, cum_before FROM (
        |  SELECT doc_id, source, n_chars, n_chars % 997 AS quality,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY (n_chars % 997) DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS cum_before
        |  FROM documents)
        |WHERE cum_before < 3000
        |ORDER BY source, cum_before, doc_id""".stripMargin,
    "q73_rerank_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS s
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, v,
        |    list_transform(v, x ->
        |      CASE WHEN s = 0 THEN 0.0 ELSE floor(x / s + 0.5) END) AS cq
        |  FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, cq AS qq FROM c WHERE vec_id < 10),
        |coarse AS (
        |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id, q.qv, c.v,
        |    list_dot_product(q.qq, c.cq)
        |      / (sqrt(list_dot_product(q.qq, q.qq)) * sqrt(list_dot_product(c.cq, c.cq)))
        |      AS coarse
        |  FROM c, q WHERE c.vec_id <> q.qid),
        |cr AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY coarse DESC, neighbor_id ASC) AS crank FROM coarse),
        |rer AS (
        |  SELECT query_id, neighbor_id, coarse,
        |    list_dot_product(qv, v)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS c2
        |  FROM cr WHERE crank <= 50),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c2 DESC, neighbor_id ASC) AS rank FROM rer)
        |SELECT query_id, neighbor_id, rank, round(c2, 9) AS cos,
        |  round(coarse, 9) AS coarse
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q74_incremental_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |      '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          for i in range(1, len(toks) - 1)] END) AS sh
        |  FROM d),
        |pairs AS (
        |  SELECT a.doc_id AS delta_id, b.doc_id AS base_id,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |  FROM sh a JOIN sh b
        |    ON a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
        |   AND least(len(a.sh), len(b.sh))::DOUBLE / greatest(len(a.sh), len(b.sh)) >= 0.6)
        |SELECT delta_id, base_id, round(j, 6) AS jaccard FROM pairs
        |WHERE j >= 0.6 ORDER BY delta_id, base_id""".stripMargin,
    "q75_unicode_norm" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' ' || chr(8491) || ' A' ||
        |      chr(778) || ' ' || chr(64257) || 'nal' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(raw) AS nfc,
        |  raw <> nfc_normalize(raw) AS changed,
        |  length(nfc_normalize(raw))::INT AS nfc_len
        |FROM p ORDER BY doc_id""".stripMargin,
    // the oracle recomputes the decoded evidence from the pixel/PCM
    // closed forms — the parquet never sees the binary payloads
    "q76_media_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id, t.p
        |  FROM documents d CROSS JOIN generate_series(0, 47) t(p)
        |  WHERE d.doc_id < 200
        |    AND t.p < (d.doc_id % 7 + 2) * (d.doc_id % 5 + 2)
        |)
        |SELECT doc_id,
        |  'bmp' AS format,
        |  CAST(doc_id % 7 + 2 AS INT) AS width,
        |  CAST(doc_id % 5 + 2 AS INT) AS height,
        |  CAST(SUM((doc_id + 3*p) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id + 3*p + 7) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id + 3*p + 13) % 256) AS BIGINT) AS sum_b,
        |  CAST(1 AS INT) AS wav_channels,
        |  CAST(((doc_id % 50 + 10) * 1000) // 8000 AS BIGINT) AS wav_ms
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // arithmetic sign PRF (bit 15 of i*1103515245 + j*12345 + 42 mod 2^16)
    // recomputed inside the lambda; j is 1-based in DuckDB's (x, j) form
    "q77_random_projection" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |comp AS (
        |  SELECT e.vec_id, t.i,
        |    list_sum(list_transform(e.v, (x, j) ->
        |      x * (1 - 2*(((t.i*1103515245 + j*12345 + 42) % 65536) // 32768))))
        |      / 4.0 AS p
        |  FROM e CROSS JOIN generate_series(0, 3) t(i))
        |SELECT vec_id AS emb_id,
        |  round(max(CASE WHEN i=0 THEN p END), 9) AS p0,
        |  round(max(CASE WHEN i=1 THEN p END), 9) AS p1,
        |  round(max(CASE WHEN i=2 THEN p END), 9) AS p2,
        |  round(max(CASE WHEN i=3 THEN p END), 9) AS p3
        |FROM comp GROUP BY vec_id ORDER BY emb_id""".stripMargin,
    // full-rank PCA round trip: identity + norm preservation — exactly
    // 0.0 after 6-decimal rounding, per vector
    "q78_pca" ->
      """SELECT vec_id AS emb_id, 0.0 AS recon_err, 0.0 AS norm_err
        |FROM embeddings WHERE embedding IS NOT NULL ORDER BY emb_id""".stripMargin,
    "q79_connect_schema_roundtrip" ->
      """WITH cl AS (
        |  SELECT user_id,
        |    date_trunc('milliseconds', ts) AS ts3,
        |    date_trunc('microseconds', ts) AS ts6,
        |    ts::DATE AS d,
        |    (hour(ts) * 3600000 + minute(ts) * 60000 + second(ts) * 1000)::INT AS t_ms,
        |    round(value, 2) AS last_value,
        |    CASE event_type WHEN 'signup' THEN '+I'
        |      WHEN 'error' THEN '-D' ELSE '+U' END AS op,
        |    event_id AS seq
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY seq DESC) AS rn FROM cl)
        |SELECT user_id,
        |  strftime(ts3, '%Y-%m-%d %H:%M:%S.%g') AS ts3_repr,
        |  strftime(ts6, '%Y-%m-%d %H:%M:%S.%f') AS ts6_repr,
        |  strftime(ts6, '%Y-%m-%d %H:%M:%S.%f') AS ltz_repr,
        |  strftime(d, '%Y-%m-%d') AS d_repr,
        |  t_ms, last_value
        |FROM ranked WHERE rn = 1 AND op <> '-D' ORDER BY user_id""".stripMargin,
    // rational-idf BM25: num/den are exact BIGINTs (< 2^53), so the single
    // division is bit-identical across engines; k1=6/5, b=3/4 fold into the
    // integer coefficients 44/20/6/18 (see TextAnalysis.bm25TopK scaladoc)
    "q80_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM tok WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS s FROM dl),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT tf.term, tf.doc_id, tf.tf, dl.dl, df.df,
        |    ((2*st.n - 2*df.df + 1) * 44 * st.s * tf.tf) /
        |    ((2*df.df + 1) * (20*st.s*tf.tf + 6*st.s + 18*dl.dl*st.n)) AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN st
        |  WHERE tf.term IN ('spark','join','window','merge','filter')),
        |r AS (SELECT term, doc_id, tf, dl, df, score,
        |  row_number() OVER (PARTITION BY term
        |    ORDER BY score DESC, doc_id ASC) AS rank FROM c)
        |SELECT term, rank, doc_id, tf, dl, df, score FROM r WHERE rank <= 10
        |ORDER BY term, rank""".stripMargin,
    // all-integer weighted Bernoulli decision on a 32-bit md5 draw
    "q81_weighted_sample" ->
      """SELECT doc_id, n_chars, least(n_chars, 400)::BIGINT AS w
        |FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT
        |        * 4096
        |      < least(n_chars, 400) * 4294967296
        |ORDER BY doc_id""".stripMargin,
    // 32-token windows every 24 tokens + tail-aligned final window
    "q82_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ') AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) <= 32 THEN [1]
        |         WHEN (len(t) - 32) % 24 = 0
        |           THEN generate_series(1, len(t) - 31, 24)
        |         ELSE list_append(generate_series(1, len(t) - 31, 24),
        |                          len(t) - 31)
        |    END AS starts
        |  FROM d),
        |c AS (SELECT doc_id, n, t, unnest(starts) AS start,
        |    unnest(generate_series(1, len(starts))) AS chunk_id FROM s)
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id, start::BIGINT AS start,
        |  least(32, n - start + 1)::BIGINT AS n_tokens,
        |  array_to_string(t[start:start+31], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // the q20 language CASE + q48 gopher gates + q21 dedup, composed
    "q83_curation_pipeline" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    string_split(text, ' ') AS words,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> list_contains(['der','und','nicht','das','ist','ich','mit','sich'], x))) AS de,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','is','that','with','for','this'], x))) AS en,
        |    len(list_filter(toks, x -> list_contains(['que','los','una','por','con','para','está','las'], x))) AS es,
        |    len(list_filter(toks, x -> list_contains(['les','est','une','dans','pour','qui','pas','vous'], x))) AS fr,
        |    len(regexp_extract_all(text, '的')) + len(regexp_extract_all(text, '是'))
        |      + len(regexp_extract_all(text, '了')) + len(regexp_extract_all(text, '在'))
        |      + len(regexp_extract_all(text, '我')) + len(regexp_extract_all(text, '有'))
        |      + len(regexp_extract_all(text, '和')) + len(regexp_extract_all(text, '不')) AS zh
        |  FROM d),
        |lang AS (
        |  SELECT doc_id, CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
        |    WHEN zh > greatest(de, en, es, fr) THEN 'zh'
        |    WHEN fr > greatest(de, en, es) THEN 'fr'
        |    WHEN es > greatest(de, en) THEN 'es'
        |    WHEN en > de THEN 'en'
        |    ELSE 'de' END AS lang_guess
        |  FROM ls),
        |g AS (
        |  SELECT doc_id, len(words) AS n,
        |    (len(words) - len(list_distinct(words)))::DOUBLE / len(words) AS dup,
        |    list_max(list_transform(list_distinct(words),
        |      x -> len(list_filter(words, y -> y = x))))::DOUBLE / len(words) AS topw,
        |    list_sum(list_transform(words, x -> len(x)))::DOUBLE / len(words) AS meanlen
        |  FROM d),
        |surv AS (
        |  SELECT d.doc_id, d.source, len(d.words)::BIGINT AS nw,
        |    trim(regexp_replace(lower(d.text), '[^\p{L}\p{N}]+', ' ', 'g')) AS k
        |  FROM d JOIN lang USING (doc_id) JOIN g USING (doc_id)
        |  WHERE lang.lang_guess = 'en'
        |    AND g.n >= 30 AND g.n <= 90 AND g.dup <= 0.55 AND g.topw <= 0.12
        |    AND g.meanlen >= 4.2 AND g.meanlen <= 4.8),
        |keep AS (SELECT min(doc_id) AS doc_id FROM surv GROUP BY k)
        |SELECT source, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids,
        |  sum(nw)::BIGINT AS n_words
        |FROM surv JOIN keep USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    // fixed-bin histogram quantiles: bucket arithmetic = exact-double
    // products + one correctly rounded division; rank test all-integer;
    // center reconstruction one multiply-add (width 600/120 = 5.0 exact)
    "q84_hist_quantiles" ->
      """WITH b AS (
        |  SELECT lang,
        |    least(greatest(floor(n_chars * 120.0 / 600.0), 0), 119)::INT AS bucket
        |  FROM documents),
        |c AS (SELECT lang, bucket, count(*)::BIGINT AS cnt FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, bucket, cnt,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM c)
        |SELECT lang, max(n)::BIGINT AS n,
        |  0.0 + (min(CASE WHEN cum*100 >= n*25 THEN bucket END) + 0.5) * 5.0 AS p25,
        |  0.0 + (min(CASE WHEN cum*100 >= n*50 THEN bucket END) + 0.5) * 5.0 AS p50,
        |  0.0 + (min(CASE WHEN cum*100 >= n*75 THEN bucket END) + 0.5) * 5.0 AS p75,
        |  0.0 + (min(CASE WHEN cum*100 >= n*95 THEN bucket END) + 0.5) * 5.0 AS p95
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,
    // q82's chunk formula -> min-key dedup per chunk text -> q80's
    // rational-idf BM25 over the surviving chunks -> q81's all-integer
    // md5 sample (weight = tf, rate 1/4) in one chain
    "q85_curation_v2" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ') AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) <= 32 THEN [1]
        |         WHEN (len(t) - 32) % 24 = 0
        |           THEN generate_series(1, len(t) - 31, 24)
        |         ELSE list_append(generate_series(1, len(t) - 31, 24),
        |                          len(t) - 31)
        |    END AS starts
        |  FROM d),
        |ch AS (
        |  SELECT doc_id * 1000 + chunk_id AS key,
        |    array_to_string(t[start:start+31], ' ') AS chunk_text
        |  FROM (SELECT doc_id, t, unnest(starts) AS start,
        |      unnest(generate_series(1, len(starts))) AS chunk_id FROM s)),
        |ded AS (SELECT min(key) AS key, chunk_text FROM ch GROUP BY chunk_text),
        |tok AS (SELECT key, unnest(string_split(chunk_text, ' ')) AS term FROM ded),
        |tf AS (SELECT key, term, count(*)::BIGINT AS tf
        |  FROM tok WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT key, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS s FROM dl),
        |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT tf.term, tf.key, tf.tf, dl.dl, dfq.df,
        |    ((2*st.n - 2*dfq.df + 1) * 44 * st.s * tf.tf) /
        |    ((2*dfq.df + 1) * (20*st.s*tf.tf + 6*st.s + 18*dl.dl*st.n)) AS score
        |  FROM tf JOIN dl USING (key) JOIN dfq USING (term) CROSS JOIN st
        |  WHERE tf.term IN ('spark','join','window','merge','filter')),
        |r AS (SELECT term, key, tf, dl, df, score,
        |  row_number() OVER (PARTITION BY term
        |    ORDER BY score DESC, key ASC) AS rank FROM c)
        |SELECT term, rank, key // 1000 AS doc_id, key % 1000 AS chunk_id,
        |  tf, dl, df, score
        |FROM r WHERE rank <= 10
        |  AND ('0x' || substr(md5(term || ':' || key::VARCHAR), 1, 8))::UBIGINT::BIGINT
        |        * 4
        |      < tf * 4294967296
        |ORDER BY term, rank""".stripMargin,
    // q80's bm25 ranking (k=20) full-outer fused with the raw-tf ranking
    // at K=60: exact-rational RRF scores, ties by doc_id
    "q86_rrf_fusion" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM tok WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS s FROM dl),
        |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT tf.term, tf.doc_id,
        |    ((2*st.n - 2*dfq.df + 1) * 44 * st.s * tf.tf) /
        |    ((2*dfq.df + 1) * (20*st.s*tf.tf + 6*st.s + 18*dl.dl*st.n)) AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st
        |  WHERE tf.term IN ('spark','join','window','merge','filter')),
        |ra AS (SELECT term, doc_id, r FROM (
        |  SELECT term, doc_id, row_number() OVER (PARTITION BY term
        |    ORDER BY score DESC, doc_id ASC) AS r FROM c) WHERE r <= 20),
        |rb AS (SELECT term, doc_id, r FROM (
        |  SELECT term, doc_id, row_number() OVER (PARTITION BY term
        |    ORDER BY tf DESC, doc_id ASC) AS r FROM tf
        |  WHERE term IN ('spark','join','window','merge','filter')) WHERE r <= 20),
        |fused AS (
        |  SELECT term, doc_id, a.r AS r_bm25, b.r AS r_tf,
        |    (CASE WHEN a.r IS NOT NULL AND b.r IS NOT NULL
        |      THEN 120 + a.r + b.r ELSE 1 END)::BIGINT AS num,
        |    (CASE WHEN a.r IS NOT NULL AND b.r IS NOT NULL
        |        THEN (60 + a.r) * (60 + b.r)
        |      WHEN a.r IS NOT NULL THEN 60 + a.r
        |      ELSE 60 + b.r END)::BIGINT AS den
        |  FROM ra a FULL JOIN rb b USING (term, doc_id)),
        |rr AS (SELECT *, num / den AS score,
        |  row_number() OVER (PARTITION BY term
        |    ORDER BY num / den DESC, doc_id ASC) AS rank FROM fused)
        |SELECT term, rank, doc_id, r_bm25, r_tf, num, den, score
        |FROM rr WHERE rank <= 10 ORDER BY term, rank""".stripMargin,
    // the same 5-step Morton bit-spread ladder, x at even bits, y at odd;
    // 20-bit dimension masks keep every shift clear of DuckDB's
    // sign-bit-overflow check (which Java shifts don't have)
    "q87_zorder_layout" ->
      """WITH st0 AS (
        |  SELECT (user_id & 1048575) AS x, (event_id & 1048575) AS y,
        |    user_id, event_id FROM events),
        |st1 AS (SELECT ((x | (x << 16)) & 281470681808895) AS x,
        |  ((y | (y << 16)) & 281470681808895) AS y, user_id, event_id FROM st0),
        |st2 AS (SELECT ((x | (x << 8)) & 71777214294589695) AS x,
        |  ((y | (y << 8)) & 71777214294589695) AS y, user_id, event_id FROM st1),
        |st3 AS (SELECT ((x | (x << 4)) & 1085102592571150095) AS x,
        |  ((y | (y << 4)) & 1085102592571150095) AS y, user_id, event_id FROM st2),
        |st4 AS (SELECT ((x | (x << 2)) & 3689348814741910323) AS x,
        |  ((y | (y << 2)) & 3689348814741910323) AS y, user_id, event_id FROM st3),
        |st5 AS (SELECT ((x | (x << 1)) & 6148914691236517205) AS x,
        |  ((y | (y << 1)) & 6148914691236517205) AS y, user_id, event_id FROM st4),
        |zt AS (SELECT (x | (y << 1)) AS z, user_id, event_id FROM st5)
        |SELECT (z >> 16) AS zbucket, count(*)::BIGINT AS n,
        |  bit_xor(z)::BIGINT AS xor_z,
        |  min(user_id)::BIGINT AS min_user, max(user_id)::BIGINT AS max_user,
        |  min(event_id)::BIGINT AS min_event, max(event_id)::BIGINT AS max_event
        |FROM zt GROUP BY 1 ORDER BY 1""".stripMargin,
    "q88_multi_lsh" ->
      // re-derives the 16×8 md5 dyadic-rational plane bank (exact doubles
      // in both engines), recomputes each table's 256-bucket sign
      // partition, each query's Hamming-1 probe set per table, unions +
      // dedups candidates across tables, and ranks by exact cosine — the
      // amplified APPROXIMATE selection itself is the ground truth
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pl AS (
        |  SELECT t, p, [(('0x' || substr(md5('q88:' || t::VARCHAR || ':'
        |      || p::VARCHAR || ':' || i::VARCHAR),
        |      1, 8))::UBIGINT / 4294967296.0) - 0.5
        |    for i in range(0, 64)] AS plane
        |  FROM range(0, 16) tt(t), range(0, 8) pp(p)),
        |b AS (
        |  SELECT e.vec_id, pl.t,
        |    sum(CASE WHEN list_dot_product(pl.plane, e.v) > 0
        |      THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
        |  FROM e, pl GROUP BY e.vec_id, pl.t),
        |cb AS (SELECT b.t, b.bucket, e.vec_id, e.v FROM e JOIN b USING (vec_id)),
        |q AS (
        |  SELECT vec_id AS qid, v AS qv, t,
        |    unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
        |            xor(bucket, 8), xor(bucket, 16), xor(bucket, 32),
        |            xor(bucket, 64), xor(bucket, 128)]) AS bucket
        |  FROM cb WHERE vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT q.qid AS query_id, cb.vec_id AS neighbor_id, q.qv, cb.v
        |  FROM cb JOIN q USING (t, bucket) WHERE cb.vec_id <> q.qid),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, v)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS c
        |  FROM cand),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c, 9) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q89_pq_adc" ->
      // product quantization, fully recomputed: 4 subspaces × 8-entry
      // codebooks, init = slices of the 8 smallest-id vectors, TWO
      // fixed-point Lloyd rounds (floor(x*2^24+0.5) BIGINT sums — exact
      // integer adds match Spark's trainer bit-for-bit; empty clusters
      // keep their entry), per-vector codes = strict-< squared-L2 argmin
      // per subspace, per-query LUT = index-order squared-L2 folds, ADC =
      // left fold of the 4 LUT hits in subspace order, coarse top-40 by
      // (adc, id), exact cosine top-5 rerank
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent0 AS (
        |  SELECT s.j, (row_number() OVER (PARTITION BY s.j ORDER BY b.vec_id) - 1)::INT AS code,
        |    list_transform(range(1, 17), i -> b.v[s.j*16 + i]) AS cv
        |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8) b,
        |    range(0, 4) s(j)),
        |a0 AS (SELECT vec_id, v, j, code FROM (
        |  SELECT e.vec_id, e.v, c.j, c.code, row_number() OVER (PARTITION BY e.vec_id, c.j
        |    ORDER BY list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[c.j*16 + i] - c.cv[i]) * (e.v[c.j*16 + i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.code ASC) AS rn
        |  FROM e, cent0 c) WHERE rn = 1),
        |m0 AS (SELECT j, code, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.j, a.code, t.i AS i,
        |      sum(floor(a.v[a.j*16 + t.i] * 16777216.0 + 0.5)::BIGINT) AS s, count(*) AS n
        |    FROM a0 a, range(1, 17) t(i) GROUP BY a.j, a.code, t.i) GROUP BY j, code),
        |cent1 AS (SELECT c.j, c.code, coalesce(m.cv, c.cv) AS cv
        |  FROM cent0 c LEFT JOIN m0 m ON m.j = c.j AND m.code = c.code),
        |a1 AS (SELECT vec_id, v, j, code FROM (
        |  SELECT e.vec_id, e.v, c.j, c.code, row_number() OVER (PARTITION BY e.vec_id, c.j
        |    ORDER BY list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[c.j*16 + i] - c.cv[i]) * (e.v[c.j*16 + i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.code ASC) AS rn
        |  FROM e, cent1 c) WHERE rn = 1),
        |m1 AS (SELECT j, code, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.j, a.code, t.i AS i,
        |      sum(floor(a.v[a.j*16 + t.i] * 16777216.0 + 0.5)::BIGINT) AS s, count(*) AS n
        |    FROM a1 a, range(1, 17) t(i) GROUP BY a.j, a.code, t.i) GROUP BY j, code),
        |cent AS (SELECT c.j, c.code, coalesce(m.cv, c.cv) AS cv
        |  FROM cent1 c LEFT JOIN m1 m ON m.j = c.j AND m.code = c.code),
        |codes AS (SELECT vec_id, j, code FROM (
        |  SELECT e.vec_id, c.j, c.code, row_number() OVER (PARTITION BY e.vec_id, c.j
        |    ORDER BY list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[c.j*16 + i] - c.cv[i]) * (e.v[c.j*16 + i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.code ASC) AS rn
        |  FROM e, cent c) WHERE rn = 1),
        |lut AS (SELECT q.vec_id AS qid, c.j, c.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (q.v[c.j*16 + i] - c.cv[i]) * (q.v[c.j*16 + i] - c.cv[i])),
        |      (x, y) -> x + y) AS d
        |  FROM e q, cent c WHERE q.vec_id < 10),
        |adc AS (SELECT l.qid AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list(l.d ORDER BY l.j), (x, y) -> x + y) AS a
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
        |  WHERE c.vec_id <> l.qid GROUP BY 1, 2),
        |coarse AS (SELECT query_id, neighbor_id, a FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY a ASC, neighbor_id ASC) AS crank FROM adc) WHERE crank <= 40),
        |scored AS (SELECT c.query_id, c.neighbor_id, c.a,
        |    list_dot_product(qe.v, ne.v)
        |      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))) AS c2
        |  FROM coarse c JOIN e ne ON ne.vec_id = c.neighbor_id
        |    JOIN e qe ON qe.vec_id = c.query_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c2 DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c2, 9) AS cos, round(a, 9) AS adc
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q90_ivf_pq" ->
      // IVF-PQ fully recomputed: coarse quantizer = 8 centroids (init =
      // smallest ids, ONE fixed-point round), residuals v − c_list,
      // residual PQ = 4×8 codebooks (init = residuals of the smallest
      // ids, ONE fixed-point round), nprobe=2 probe sets, per-(query,
      // list) residual LUTs, ADC = ordered-list left fold, coarse top-32
      // by (adc, id), exact cosine top-5 rerank
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |icent0 AS (
        |  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, v AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |ia0 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.cid ASC) AS rn
        |  FROM e, icent0 c) WHERE rn = 1),
        |im0 AS (SELECT cid, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.cid, t.i AS i,
        |      sum(floor(a.v[t.i] * 16777216.0 + 0.5)::BIGINT) AS s, count(*) AS n
        |    FROM ia0 a, range(1, 65) t(i) GROUP BY a.cid, t.i) GROUP BY cid),
        |icent AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv
        |  FROM icent0 c LEFT JOIN im0 m USING (cid)),
        |idist AS (SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
        |      (x, y) -> x + y) AS d2
        |  FROM e, icent c),
        |irk AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2 ASC, cid ASC) AS rn FROM idist),
        |assign AS (SELECT vec_id, cid FROM irk WHERE rn = 1),
        |resid AS (SELECT e.vec_id, a.cid,
        |    list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS r
        |  FROM e JOIN assign a USING (vec_id) JOIN icent c ON c.cid = a.cid),
        |pcent0 AS (SELECT s.j,
        |    (row_number() OVER (PARTITION BY s.j ORDER BY b.vec_id) - 1)::INT AS code,
        |    list_transform(range(1, 17), i -> b.r[s.j*16 + i]) AS cv
        |  FROM (SELECT vec_id, r FROM resid ORDER BY vec_id LIMIT 8) b,
        |    range(0, 4) s(j)),
        |pa0 AS (SELECT vec_id, r, j, code FROM (
        |  SELECT rr.vec_id, rr.r, c.j, c.code, row_number() OVER (PARTITION BY rr.vec_id, c.j
        |    ORDER BY list_reduce(list_transform(range(1, 17),
        |      i -> (rr.r[c.j*16 + i] - c.cv[i]) * (rr.r[c.j*16 + i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.code ASC) AS rn
        |  FROM resid rr, pcent0 c) WHERE rn = 1),
        |pm0 AS (SELECT j, code, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.j, a.code, t.i AS i,
        |      sum(floor(a.r[a.j*16 + t.i] * 16777216.0 + 0.5)::BIGINT) AS s, count(*) AS n
        |    FROM pa0 a, range(1, 17) t(i) GROUP BY a.j, a.code, t.i) GROUP BY j, code),
        |pcent AS (SELECT c.j, c.code, coalesce(m.cv, c.cv) AS cv
        |  FROM pcent0 c LEFT JOIN pm0 m ON m.j = c.j AND m.code = c.code),
        |codes AS (SELECT vec_id, j, code FROM (
        |  SELECT rr.vec_id, c.j, c.code, row_number() OVER (PARTITION BY rr.vec_id, c.j
        |    ORDER BY list_reduce(list_transform(range(1, 17),
        |      i -> (rr.r[c.j*16 + i] - c.cv[i]) * (rr.r[c.j*16 + i] - c.cv[i])),
        |      (x, y) -> x + y) ASC, c.code ASC) AS rn
        |  FROM resid rr, pcent c) WHERE rn = 1),
        |probe AS (SELECT vec_id AS qid, cid FROM irk WHERE rn <= 2 AND vec_id < 10),
        |qresid AS (SELECT p.qid, p.cid,
        |    list_transform(range(1, 65), i -> qe.v[i] - c.cv[i]) AS qr
        |  FROM probe p JOIN e qe ON qe.vec_id = p.qid
        |    JOIN icent c ON c.cid = p.cid),
        |lut AS (SELECT q.qid, q.cid, c.j, c.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (q.qr[c.j*16 + i] - c.cv[i]) * (q.qr[c.j*16 + i] - c.cv[i])),
        |      (x, y) -> x + y) AS d
        |  FROM qresid q, pcent c),
        |adc AS (SELECT l.qid AS query_id, cd.vec_id AS neighbor_id,
        |    list_reduce(list(l.d ORDER BY l.j), (x, y) -> x + y) AS a
        |  FROM codes cd JOIN assign asn ON asn.vec_id = cd.vec_id
        |    JOIN lut l ON l.cid = asn.cid AND l.j = cd.j AND l.code = cd.code
        |  WHERE cd.vec_id <> l.qid GROUP BY 1, 2),
        |coarse AS (SELECT query_id, neighbor_id, a FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY a ASC, neighbor_id ASC) AS crank FROM adc) WHERE crank <= 32),
        |scored AS (SELECT c.query_id, c.neighbor_id, c.a,
        |    list_dot_product(qe.v, ne.v)
        |      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))) AS c2
        |  FROM coarse c JOIN e ne ON ne.vec_id = c.neighbor_id
        |    JOIN e qe ON qe.vec_id = c.query_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c2 DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c2, 9) AS cos, round(a, 9) AS adc
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // brute-force edit-distance join over the full pair space (the
    // length-band predicate is exact-safe: ed <= 1 forces ||a|-|b|| <= 1)
    "q91_editdist_join" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 16) AS k
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM s a JOIN s b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.k) - length(b.k)) <= 1
        | AND levenshtein(a.k, b.k) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // independent DuckDB recomputation of the full BPE training loop:
    // 8 unrolled stages of (pair counts -> argmax -> list_reduce greedy
    // string-fold merge); the fold == the Sennrich left-to-right scan
    // (OpsSpec "fold merge == reference greedy scan")
    "q92_bpe_train" ->
      (s"WITH ${bpeOracleStages(8)}\n" +
        (1 to 8).map(r =>
          s"SELECT $r AS rank, lhs, rhs, pc AS pair_count FROM best$r WHERE pc >= 2")
          .mkString("SELECT * FROM (", "\nUNION ALL ", ")") +
        " ORDER BY rank"),
    // encode == the trained word table after all 8 rank-order merges
    // (sequential application == the kernel's min-rank loop; OpsSpec pin),
    // weighted by word frequency
    "q93_bpe_encode" ->
      (s"WITH ${bpeOracleStages(8)},\n" +
        "tok AS (SELECT unnest(string_split(s, '|')) AS token, cnt FROM w8)\n" +
        "SELECT token, sum(cnt)::BIGINT AS n FROM tok GROUP BY token " +
        "ORDER BY n DESC, token ASC LIMIT 40"),
    // first-occurrence-keep duplicated-span accounting: rn>1 windows are
    // dups, per-doc interval union via the running-max-end gaps-and-islands
    "q94_span_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(lower(coalesce(text, '')), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ') AS t
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  (CASE WHEN t = [''] THEN 0 ELSE len(t) END)::BIGINT AS n_tokens FROM d),
        |w AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS win
        |  FROM d, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
        |iv AS (SELECT doc_id, pos, pos + 7 AS e FROM r WHERE rn > 1),
        |m AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id
        |  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |c AS (SELECT doc_id, sum(greatest(0,
        |    e - greatest(coalesce(pm, pos - 1), pos - 1)))::BIGINT AS cut
        |  FROM m GROUP BY 1)
        |SELECT n.doc_id, n.n_tokens, coalesce(c.cut, 0)::BIGINT AS cut_tokens,
        |  round(CASE WHEN n.n_tokens > 0
        |    THEN (n.n_tokens - coalesce(c.cut, 0))::DOUBLE / n.n_tokens
        |    ELSE 1.0 END, 9) AS keep_frac
        |FROM n LEFT JOIN c ON n.doc_id = c.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    // kept text via position expansion: dup intervals -> covered position
    // set -> anti-join token positions -> ordered string_agg
    "q95_span_dedup_text" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(lower(coalesce(text, '')), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ') AS t
        |  FROM documents),
        |w AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS win
        |  FROM d, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
        |iv AS (SELECT doc_id, pos, pos + 7 AS e FROM r WHERE rn > 1),
        |cov AS (SELECT DISTINCT doc_id, u.p
        |  FROM iv, unnest(generate_series(pos, e)) AS u(p)),
        |tok AS (SELECT doc_id, i AS pos, t[i] AS tk
        |  FROM d, unnest(generate_series(1,
        |    CASE WHEN t = [''] THEN 0 ELSE len(t) END)) AS u(i)),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tk
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.p
        |  WHERE cov.p IS NULL)
        |SELECT d.doc_id,
        |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(k.kept_text, '') AS kept_text
        |FROM d LEFT JOIN (
        |  SELECT doc_id, count(*)::BIGINT AS n_kept,
        |    string_agg(tk, ' ' ORDER BY pos) AS kept_text
        |  FROM kept GROUP BY doc_id) k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // per-word token counts off the trained word table, summed per doc
    "q96_bpe_fertility" ->
      (s"WITH ${bpeOracleStages(8)},\n" +
        """wtok AS (SELECT w, len(string_split(s, '|'))::BIGINT AS ntok FROM w8),
          |dtok AS (SELECT doc_id, unnest(string_split(
          |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
          |    ' ')) AS w
          |  FROM documents),
          |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
          |    sum(ntok)::BIGINT AS n_tokens
          |  FROM dtok JOIN wtok USING (w)
          |  WHERE dtok.w <> '' GROUP BY doc_id)
          |SELECT d.doc_id,
          |  coalesce(a.n_words, 0)::BIGINT AS n_words,
          |  coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
          |  round(CASE WHEN coalesce(a.n_words, 0) > 0
          |    THEN a.n_tokens::DOUBLE / a.n_words ELSE 0.0 END, 9) AS fertility
          |FROM (SELECT DISTINCT doc_id FROM documents) d
          |LEFT JOIN agg a ON d.doc_id = a.doc_id
          |ORDER BY d.doc_id""".stripMargin),
    // curation v3: q95's kept-text rebuild -> BPE trained ON THE DEDUPED
    // corpus (the parameterized w0 source) -> per-doc tokens off the
    // trained word table -> fertility gate (unrounded double, both
    // engines divide the same integers) -> exclusive running token sum
    // in doc_id order -> ctxLen-bin pack ids
    "q97_curation_v3" ->
      ("""WITH d AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(lower(coalesce(text, '')), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ') AS t
        |  FROM documents),
        |w AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS win
        |  FROM d, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
        |iv AS (SELECT doc_id, pos, pos + 7 AS e FROM r WHERE rn > 1),
        |cov AS (SELECT DISTINCT doc_id, u.p
        |  FROM iv, unnest(generate_series(pos, e)) AS u(p)),
        |tok AS (SELECT doc_id, i AS pos, t[i] AS tk
        |  FROM d, unnest(generate_series(1,
        |    CASE WHEN t = [''] THEN 0 ELSE len(t) END)) AS u(i)),
        |kept AS MATERIALIZED (SELECT tok.doc_id, tok.pos, tok.tk
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.p
        |  WHERE cov.p IS NULL),
        |dd AS MATERIALIZED (SELECT d.doc_id, coalesce(k.kept_text, '') AS kept_text
        |  FROM d LEFT JOIN (
        |    SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS kept_text
        |    FROM kept GROUP BY doc_id) k ON d.doc_id = k.doc_id),
        |""".stripMargin +
        bpeOracleStages(8,
          "SELECT unnest(string_split(kept_text, ' ')) AS w FROM dd") + ",\n" +
        """wtok AS (SELECT w, len(string_split(s, '|'))::BIGINT AS ntok FROM w8),
          |dtok AS (SELECT doc_id, unnest(string_split(kept_text, ' ')) AS w
          |  FROM dd),
          |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
          |    sum(ntok)::BIGINT AS n_tokens
          |  FROM dtok JOIN wtok USING (w)
          |  WHERE dtok.w <> '' GROUP BY doc_id),
          |gated AS (SELECT doc_id, n_words, n_tokens FROM agg
          |  WHERE n_tokens > 0 AND n_tokens::DOUBLE / n_words <= 3.8),
          |binned AS (SELECT doc_id, n_words, n_tokens,
          |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
          |    AS start_offset
          |  FROM gated)
          |SELECT doc_id, n_words, n_tokens,
          |  round(n_tokens::DOUBLE / n_words, 9) AS fertility,
          |  start_offset,
          |  (start_offset // 4096)::BIGINT AS pack_id,
          |  (start_offset % 4096)::BIGINT AS pos_in_pack
          |FROM binned ORDER BY doc_id""".stripMargin),
    // OPQ fully recomputed at d=2: fixed-point Gram/mean fold (2^-24
    // grid BIGINT sums), ONE closed-form Jacobi rotation with the
    // trainer's exact IEEE formula sequence — sweep 2's micro-rotation
    // conditionally mirrored with the code's 1e-14 (loop) / 1e-18
    // (rotation) thresholds, a10/a01 kept as their DISTINCT IEEE
    // expressions — eigenvalue-desc component order (stable: ties keep
    // column 0 first), rotation y = (x−mu)·R row-fold, then q89's PQ
    // machinery over ROTATED values (init = 4 smallest ids, one
    // fixed-point Lloyd round, strict-< argmin, index-order LUT folds,
    // left-fold ADC, coarse-40, exact-cosine rerank on ORIGINAL vectors)
    "q98_opq_adc" ->
      """WITH e AS (SELECT vec_id,
        |    [embedding[1]::DOUBLE, embedding[2]::DOUBLE] AS v FROM embeddings),
        |g AS (SELECT count(*)::BIGINT AS n,
        |  sum(floor(v[1]*16777216.0 + 0.5)::BIGINT) AS s0,
        |  sum(floor(v[2]*16777216.0 + 0.5)::BIGINT) AS s1,
        |  sum(floor(v[1]*v[1]*16777216.0 + 0.5)::BIGINT) AS q00,
        |  sum(floor(v[1]*v[2]*16777216.0 + 0.5)::BIGINT) AS q01,
        |  sum(floor(v[2]*v[2]*16777216.0 + 0.5)::BIGINT) AS q11
        |  FROM e),
        |mo AS (SELECT
        |  s0::DOUBLE/(n::DOUBLE*16777216.0) AS m0,
        |  s1::DOUBLE/(n::DOUBLE*16777216.0) AS m1,
        |  q00::DOUBLE/(n::DOUBLE*16777216.0) AS e00,
        |  q01::DOUBLE/(n::DOUBLE*16777216.0) AS e01,
        |  q11::DOUBLE/(n::DOUBLE*16777216.0) AS e11 FROM g),
        |j0 AS (SELECT m0, m1, e00 - m0*m0 AS c00, e01 - m0*m1 AS c01,
        |  e11 - m1*m1 AS c11 FROM mo),
        |t1 AS (SELECT *, CASE WHEN abs(c01) > 1e-18
        |  THEN sign((c11 - c00) / (2 * c01)) /
        |    (abs((c11 - c00) / (2 * c01)) +
        |     sqrt(((c11 - c00) / (2 * c01)) * ((c11 - c00) / (2 * c01)) + 1))
        |  ELSE NULL END AS tt1 FROM j0),
        |u1 AS (SELECT *, CASE WHEN tt1 IS NULL THEN 1.0
        |  ELSE 1/sqrt(tt1*tt1 + 1) END AS cc1 FROM t1),
        |w1 AS (SELECT *, CASE WHEN tt1 IS NULL THEN 0.0
        |  ELSE tt1 * cc1 END AS ss1 FROM u1),
        |s1m AS (SELECT m0, m1, c01 AS off1,
        |  CASE WHEN tt1 IS NULL THEN c00
        |    ELSE cc1*(cc1*c00 - ss1*c01) - ss1*(cc1*c01 - ss1*c11) END AS a00,
        |  CASE WHEN tt1 IS NULL THEN c11
        |    ELSE ss1*(ss1*c00 + cc1*c01) + cc1*(ss1*c01 + cc1*c11) END AS a11,
        |  CASE WHEN tt1 IS NULL THEN c01
        |    ELSE cc1*(ss1*c00 + cc1*c01) - ss1*(ss1*c01 + cc1*c11) END AS a01,
        |  CASE WHEN tt1 IS NULL THEN c01
        |    ELSE ss1*(cc1*c00 - ss1*c01) + cc1*(cc1*c01 - ss1*c11) END AS a10,
        |  CASE WHEN tt1 IS NULL THEN 1.0 ELSE cc1 END AS v00,
        |  CASE WHEN tt1 IS NULL THEN 0.0 ELSE ss1 END AS v01,
        |  CASE WHEN tt1 IS NULL THEN 0.0 ELSE 0.0 - ss1 END AS v10,
        |  CASE WHEN tt1 IS NULL THEN 1.0 ELSE cc1 END AS v11
        |  FROM w1),
        |t2 AS (SELECT *, CASE WHEN abs(off1) > 1e-14 AND abs(a01) > 1e-18
        |  THEN sign((a11 - a00) / (2 * a01)) /
        |    (abs((a11 - a00) / (2 * a01)) +
        |     sqrt(((a11 - a00) / (2 * a01)) * ((a11 - a00) / (2 * a01)) + 1))
        |  ELSE NULL END AS tt2 FROM s1m),
        |u2 AS (SELECT *, CASE WHEN tt2 IS NULL THEN 1.0
        |  ELSE 1/sqrt(tt2*tt2 + 1) END AS cc2 FROM t2),
        |w2 AS (SELECT *, CASE WHEN tt2 IS NULL THEN 0.0
        |  ELSE tt2 * cc2 END AS ss2 FROM u2),
        |fin AS (SELECT m0, m1,
        |  CASE WHEN tt2 IS NULL THEN a00
        |    ELSE cc2*(cc2*a00 - ss2*a01) - ss2*(cc2*a10 - ss2*a11) END AS e0,
        |  CASE WHEN tt2 IS NULL THEN a11
        |    ELSE ss2*(ss2*a00 + cc2*a01) + cc2*(ss2*a10 + cc2*a11) END AS e1,
        |  CASE WHEN tt2 IS NULL THEN v00 ELSE cc2*v00 - ss2*v01 END AS v00f,
        |  CASE WHEN tt2 IS NULL THEN v01 ELSE ss2*v00 + cc2*v01 END AS v01f,
        |  CASE WHEN tt2 IS NULL THEN v10 ELSE cc2*v10 - ss2*v11 END AS v10f,
        |  CASE WHEN tt2 IS NULL THEN v11 ELSE ss2*v10 + cc2*v11 END AS v11f
        |  FROM w2),
        |comp AS (SELECT m0, m1,
        |  CASE WHEN e1 > e0 THEN v01f ELSE v00f END AS r00,
        |  CASE WHEN e1 > e0 THEN v11f ELSE v10f END AS r01,
        |  CASE WHEN e1 > e0 THEN v00f ELSE v01f END AS r10,
        |  CASE WHEN e1 > e0 THEN v10f ELSE v11f END AS r11 FROM fin),
        |r AS (SELECT vec_id,
        |  [(v[1]-m0)*r00 + (v[2]-m1)*r01, (v[1]-m0)*r10 + (v[2]-m1)*r11] AS y
        |  FROM e, comp),
        |cent0 AS (SELECT s.j,
        |    (row_number() OVER (PARTITION BY s.j ORDER BY b.vec_id) - 1)::INT AS code,
        |    b.y[s.j + 1] AS cv
        |  FROM (SELECT vec_id, y FROM r ORDER BY vec_id LIMIT 4) b,
        |    range(0, 2) s(j)),
        |a0 AS (SELECT vec_id, y, j, code FROM (
        |  SELECT r.vec_id, r.y, c.j, c.code,
        |    row_number() OVER (PARTITION BY r.vec_id, c.j
        |      ORDER BY (r.y[c.j + 1] - c.cv) * (r.y[c.j + 1] - c.cv) ASC,
        |        c.code ASC) AS rn
        |  FROM r, cent0 c) WHERE rn = 1),
        |m0u AS (SELECT j, code,
        |    ssum::DOUBLE / (cnt::DOUBLE * 16777216.0) AS cv
        |  FROM (SELECT a.j, a.code,
        |      sum(floor(a.y[a.j + 1] * 16777216.0 + 0.5)::BIGINT) AS ssum,
        |      count(*) AS cnt
        |    FROM a0 a GROUP BY a.j, a.code)),
        |cent AS (SELECT c.j, c.code, coalesce(m.cv, c.cv) AS cv
        |  FROM cent0 c LEFT JOIN m0u m ON m.j = c.j AND m.code = c.code),
        |codes AS (SELECT vec_id, j, code FROM (
        |  SELECT r.vec_id, c.j, c.code,
        |    row_number() OVER (PARTITION BY r.vec_id, c.j
        |      ORDER BY (r.y[c.j + 1] - c.cv) * (r.y[c.j + 1] - c.cv) ASC,
        |        c.code ASC) AS rn
        |  FROM r, cent c) WHERE rn = 1),
        |lut AS (SELECT q.vec_id AS qid, c.j, c.code,
        |    (q.y[c.j + 1] - c.cv) * (q.y[c.j + 1] - c.cv) AS d
        |  FROM r q, cent c WHERE q.vec_id < 10),
        |adc AS (SELECT l.qid AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list(l.d ORDER BY l.j), (x, y) -> x + y) AS a
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
        |  WHERE c.vec_id <> l.qid GROUP BY 1, 2),
        |coarse AS (SELECT query_id, neighbor_id, a FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY a ASC, neighbor_id ASC) AS crank FROM adc) WHERE crank <= 40),
        |scored AS (SELECT c.query_id, c.neighbor_id, c.a,
        |    list_dot_product(qe.v, ne.v)
        |      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))) AS c2
        |  FROM coarse c JOIN e ne ON ne.vec_id = c.neighbor_id
        |    JOIN e qe ON qe.vec_id = c.query_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c2 DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c2, 9) AS cos, round(a, 9) AS adc
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // multi-granularity span dedup over documents + in-query variants:
    // coarse k=12 firsts (row_number over (doc,pos)) with the first
    // occurrence's doc as the pair keeper, fine k=6 windows joined
    // within cross-doc pairs, interval union via the running-max window
    "q99_multi_span" ->
      (s"WITH $multiSpanOracleStages,\n" +
        """m AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id
        |  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |c AS (SELECT doc_id, sum(greatest(0,
        |    e - greatest(coalesce(pm, pos - 1), pos - 1)))::BIGINT AS cut
        |  FROM m GROUP BY 1)
        |SELECT n.doc_id, n.n_tokens, coalesce(c.cut, 0)::BIGINT AS cut_tokens,
        |  round(CASE WHEN n.n_tokens > 0
        |    THEN (n.n_tokens - coalesce(c.cut, 0))::DOUBLE / n.n_tokens
        |    ELSE 1.0 END, 9) AS keep_frac
        |FROM n LEFT JOIN c ON n.doc_id = c.doc_id
        |ORDER BY n.doc_id""".stripMargin),
    // the multi-granularity TRANSFORM: the same interval derivation,
    // then q95's kept-text formulation — interval position expansion ->
    // covered-position anti-join -> ordered string_agg
    "q100_multi_span_text" ->
      (s"WITH $multiSpanOracleStages,\n" +
        """cov AS (SELECT DISTINCT doc_id, u.p
        |  FROM iv, unnest(generate_series(pos, e)) AS u(p)),
        |tok AS (SELECT doc_id, i AS pos, t[i] AS tk
        |  FROM d, unnest(generate_series(1,
        |    CASE WHEN t = [''] THEN 0 ELSE len(t) END)) AS u(i)),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tk
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.p
        |  WHERE cov.p IS NULL)
        |SELECT d.doc_id,
        |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(k.kept_text, '') AS kept_text
        |FROM d LEFT JOIN (
        |  SELECT doc_id, count(*)::BIGINT AS n_kept,
        |    string_agg(tk, ' ' ORDER BY pos) AS kept_text
        |  FROM kept GROUP BY doc_id) k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // byte-level BPE: the q93 formulation with the symbol alphabet
    // switched to per-UTF-8-byte hex — DuckDB's hex(w) is the word's
    // UTF-8 bytes uppercase, substr carves fixed-width 2-digit symbols,
    // strlen is the BYTE length; everything downstream (pair counts,
    // argmax tiebreak, the merge fold) is alphabet-agnostic
    "q101_bpe_byte" ->
      (s"WITH ${bpeOracleStages(8,
          wordsSource = byteBpeOracleWords,
          symSplit = "list_transform(range(1, strlen(w) + 1), " +
            "i -> substr(hex(w), (2*i - 1)::INT, 2))")},\n" +
        "tok AS (SELECT unnest(string_split(s, '|')) AS token, cnt FROM w8)\n" +
        "SELECT token, sum(cnt)::BIGINT AS n FROM tok GROUP BY token " +
        "ORDER BY n DESC, token ASC LIMIT 40"),
    // incremental span dedup: the oracle is the FULL-corpus recompute
    // (q94's stages) restricted to the delta ids — the incremental path
    // must coincide exactly by the min-struct union lattice
    "q102_span_delta" ->
      (s"WITH $spanDeltaOracleStages,\n" +
      """n AS (SELECT doc_id,
        |  (CASE WHEN t = [''] THEN 0 ELSE len(t) END)::BIGINT AS n_tokens FROM d),
        |iv AS (SELECT doc_id, pos, pos + 7 AS e FROM r WHERE rn > 1),
        |m AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id
        |  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |c AS (SELECT doc_id, sum(greatest(0,
        |    e - greatest(coalesce(pm, pos - 1), pos - 1)))::BIGINT AS cut
        |  FROM m GROUP BY 1)
        |SELECT n.doc_id, n.n_tokens, coalesce(c.cut, 0)::BIGINT AS cut_tokens,
        |  round(CASE WHEN n.n_tokens > 0
        |    THEN (n.n_tokens - coalesce(c.cut, 0))::DOUBLE / n.n_tokens
        |    ELSE 1.0 END, 9) AS keep_frac
        |FROM n LEFT JOIN c ON n.doc_id = c.doc_id
        |WHERE n.doc_id % 2 = 1
        |ORDER BY n.doc_id""".stripMargin),
    // balanced OPQ through a NON-identity permutation, fully recomputed:
    // the 2^4-factorial corpus makes the fixed-point covariance exactly
    // diagonal (dyadic means/moments -> exact IEEE divisions -> 0.0
    // off-diagonals -> zero Jacobi rotations), so the trained rotation
    // is eigen-sort + balanced-greedy PERMUTATION rows. The oracle
    // derives variances with the trainer's own fixed-point formulas,
    // sorts (var DESC, dim ASC — the stable tie rule), unrolls the
    // m=2/sd=2 level-constrained greedy (bucket0 takes r0; bucket1
    // takes r1; r2 joins the smaller accumulated log — bucket1 iff
    // var(r1) < var(r0), ties to bucket0; r3 fills the rest), centers
    // by the permuted means, then replays q89's PQ machinery at
    // subdim 2 / ksub 4 / one fixed-point Lloyd round, ADC, coarse-40,
    // exact-cosine rerank on the ORIGINAL derived vectors
    "q103_opq_balanced" ->
      """WITH p AS (SELECT (count(*) // 16) * 16 AS nkeep FROM embeddings),
        |e AS (SELECT vec_id, [
        |    ((((vec_id % 16) // 1) % 2) * 8 + 1)::DOUBLE,
        |    ((((vec_id % 16) // 2) % 2) * 4 + 1)::DOUBLE,
        |    ((((vec_id % 16) // 4) % 2) * 2 + 1)::DOUBLE,
        |    ((((vec_id % 16) // 8) % 2) * 1 + 1)::DOUBLE] AS v
        |  FROM embeddings, p WHERE vec_id < p.nkeep),
        |g AS (SELECT count(*)::BIGINT AS n,
        |  sum(floor(v[1]*16777216.0 + 0.5)::BIGINT) AS s0,
        |  sum(floor(v[2]*16777216.0 + 0.5)::BIGINT) AS s1,
        |  sum(floor(v[3]*16777216.0 + 0.5)::BIGINT) AS s2,
        |  sum(floor(v[4]*16777216.0 + 0.5)::BIGINT) AS s3,
        |  sum(floor(v[1]*v[1]*16777216.0 + 0.5)::BIGINT) AS q0,
        |  sum(floor(v[2]*v[2]*16777216.0 + 0.5)::BIGINT) AS q1,
        |  sum(floor(v[3]*v[3]*16777216.0 + 0.5)::BIGINT) AS q2,
        |  sum(floor(v[4]*v[4]*16777216.0 + 0.5)::BIGINT) AS q3
        |  FROM e),
        |mo AS (SELECT
        |  s0::DOUBLE/(n::DOUBLE*16777216.0) AS m0,
        |  s1::DOUBLE/(n::DOUBLE*16777216.0) AS m1,
        |  s2::DOUBLE/(n::DOUBLE*16777216.0) AS m2,
        |  s3::DOUBLE/(n::DOUBLE*16777216.0) AS m3,
        |  q0::DOUBLE/(n::DOUBLE*16777216.0) AS e0,
        |  q1::DOUBLE/(n::DOUBLE*16777216.0) AS e1,
        |  q2::DOUBLE/(n::DOUBLE*16777216.0) AS e2,
        |  q3::DOUBLE/(n::DOUBLE*16777216.0) AS e3 FROM g),
        |vr AS (SELECT u.dim,
        |  CASE u.dim WHEN 0 THEN e0 - m0*m0 WHEN 1 THEN e1 - m1*m1
        |    WHEN 2 THEN e2 - m2*m2 ELSE e3 - m3*m3 END AS var,
        |  CASE u.dim WHEN 0 THEN m0 WHEN 1 THEN m1
        |    WHEN 2 THEN m2 ELSE m3 END AS mu
        |  FROM mo, range(0, 4) u(dim)),
        |ord AS (SELECT dim, var, mu,
        |  (row_number() OVER (ORDER BY var DESC, dim ASC) - 1)::INT AS rr
        |  FROM vr),
        |alloc AS (SELECT CASE WHEN (SELECT var FROM ord WHERE rr = 1) <
        |    (SELECT var FROM ord WHERE rr = 0) THEN 1 ELSE 0 END AS strict),
        |rot AS (SELECT t.j::INT AS j, CASE t.j
        |    WHEN 0 THEN 0
        |    WHEN 1 THEN (CASE WHEN a.strict = 1 THEN 3 ELSE 2 END)
        |    WHEN 2 THEN 1
        |    ELSE (CASE WHEN a.strict = 1 THEN 2 ELSE 3 END) END AS rr
        |  FROM range(0, 4) t(j), alloc a),
        |pm AS (SELECT rt.j, o.dim, o.mu FROM rot rt JOIN ord o ON o.rr = rt.rr),
        |r AS (SELECT e.vec_id, list(e.v[pm.dim + 1] - pm.mu ORDER BY pm.j) AS y
        |  FROM e, pm GROUP BY e.vec_id),
        |cent0 AS (SELECT s.j,
        |    (row_number() OVER (PARTITION BY s.j ORDER BY b.vec_id) - 1)::INT AS code,
        |    list_transform(range(1, 3), i -> b.y[s.j*2 + i]) AS cv
        |  FROM (SELECT vec_id, y FROM r ORDER BY vec_id LIMIT 4) b,
        |    range(0, 2) s(j)),
        |a0 AS (SELECT vec_id, y, j, code FROM (
        |  SELECT r.vec_id, r.y, c.j, c.code,
        |    row_number() OVER (PARTITION BY r.vec_id, c.j
        |      ORDER BY list_reduce(list_transform(range(1, 3),
        |        i -> (r.y[c.j*2 + i] - c.cv[i]) * (r.y[c.j*2 + i] - c.cv[i])),
        |        (x, y) -> x + y) ASC, c.code ASC) AS rn
        |  FROM r, cent0 c) WHERE rn = 1),
        |m0u AS (SELECT j, code, list(s::DOUBLE / (n * 16777216.0) ORDER BY i) AS cv
        |  FROM (SELECT a.j, a.code, t.i AS i,
        |      sum(floor(a.y[a.j*2 + t.i] * 16777216.0 + 0.5)::BIGINT) AS s,
        |      count(*) AS n
        |    FROM a0 a, range(1, 3) t(i) GROUP BY a.j, a.code, t.i)
        |  GROUP BY j, code),
        |cent AS (SELECT c.j, c.code, coalesce(m.cv, c.cv) AS cv
        |  FROM cent0 c LEFT JOIN m0u m ON m.j = c.j AND m.code = c.code),
        |codes AS (SELECT vec_id, j, code FROM (
        |  SELECT r.vec_id, c.j, c.code,
        |    row_number() OVER (PARTITION BY r.vec_id, c.j
        |      ORDER BY list_reduce(list_transform(range(1, 3),
        |        i -> (r.y[c.j*2 + i] - c.cv[i]) * (r.y[c.j*2 + i] - c.cv[i])),
        |        (x, y) -> x + y) ASC, c.code ASC) AS rn
        |  FROM r, cent c) WHERE rn = 1),
        |lut AS (SELECT q.vec_id AS qid, c.j, c.code,
        |    list_reduce(list_transform(range(1, 3),
        |      i -> (q.y[c.j*2 + i] - c.cv[i]) * (q.y[c.j*2 + i] - c.cv[i])),
        |      (x, y) -> x + y) AS d
        |  FROM r q, cent c WHERE q.vec_id < 10),
        |adc AS (SELECT l.qid AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list(l.d ORDER BY l.j), (x, y) -> x + y) AS a
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
        |  WHERE c.vec_id <> l.qid GROUP BY 1, 2),
        |coarse AS (SELECT query_id, neighbor_id, a FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY a ASC, neighbor_id ASC) AS crank FROM adc) WHERE crank <= 40),
        |scored AS (SELECT c.query_id, c.neighbor_id, c.a,
        |    list_dot_product(qe.v, ne.v)
        |      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))) AS c2
        |  FROM coarse c JOIN e ne ON ne.vec_id = c.neighbor_id
        |    JOIN e qe ON qe.vec_id = c.query_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c2 DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id, rank, round(c2, 9) AS cos, round(a, 9) AS adc
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // incremental span-dedup TRANSFORM: q102's whole-corpus union-firsts
    // recompute (row_number firsts == the min-struct lattice) + q100's
    // position-expansion kept-text rebuild, restricted to delta ids
    "q104_span_text_delta" ->
      (s"WITH $spanDeltaOracleStages,\n" +
      """iv AS (SELECT doc_id, pos, pos + 7 AS e FROM r
        |  WHERE rn > 1 AND doc_id % 2 = 1),
        |cov AS (SELECT DISTINCT doc_id, u.p
        |  FROM iv, unnest(generate_series(pos, e)) AS u(p)),
        |tok AS (SELECT doc_id, i AS pos, t[i] AS tk
        |  FROM d, unnest(generate_series(1,
        |    CASE WHEN t = [''] THEN 0 ELSE len(t) END)) AS u(i)
        |  WHERE doc_id % 2 = 1),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tk
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.p
        |  WHERE cov.p IS NULL)
        |SELECT d.doc_id,
        |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(k.kept_text, '') AS kept_text
        |FROM d LEFT JOIN (
        |  SELECT doc_id, count(*)::BIGINT AS n_kept,
        |    string_agg(tk, ' ' ORDER BY pos) AS kept_text
        |  FROM kept GROUP BY doc_id) k ON d.doc_id = k.doc_id
        |WHERE d.doc_id % 2 = 1
        |ORDER BY d.doc_id""".stripMargin)
  )

  /** The q101 word source: documents plus the multi-byte literal rows of
    * [[byteBpeGateCorpus]], verbatim.
    */
  private def byteBpeOracleWords: String =
    """SELECT unnest(string_split(
      |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
      |    ' ')) AS w
      |  FROM (SELECT doc_id, text FROM documents UNION ALL
      |    SELECT * FROM (VALUES
      |      (3000001, 'café crème déjà vu café crème déjà vu café crème'),
      |      (3000002, 'naïve αβγ δοκιμή αβγ δοκιμή naïve αβγ über'),
      |      (3000003, 'über żółć żółć żółć déjà straße straße')
      |    ) AS v(doc_id, text))""".stripMargin

  /** The shared WITH-prefix of the q99/q100 oracles: the gate corpus
    * (documents + derived variants, [[multiSpanGateCorpus]]'s exact
    * derivation in DuckDB), per-doc token arrays `d` and counts `n`,
    * the coarse k=12 first-occurrence pass, cross-document pairs, the
    * fine k=6 within-pair pass, and the merged interval set `iv` —
    * one interval per (doc, pos) keeping the longer end.
    */
  private def multiSpanOracleStages: String =
    """raw AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |d0 AS (SELECT doc_id, string_split(
      |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
      |    ' ') AS t
      |  FROM raw),
      |var AS (SELECT doc_id + 1000000 AS doc_id,
      |    array_to_string(list_concat(list_concat(t[1:12],
      |      list_transform(range(1, 13), i -> 'fz' || doc_id || 'x' || i)),
      |      t[30:37]), ' ') AS text
      |  FROM d0 WHERE doc_id < 40 AND len(t) >= 40 AND t <> ['']),
      |base AS (SELECT doc_id, text FROM raw
      |  UNION ALL SELECT doc_id, text FROM var),
      |d AS MATERIALIZED (SELECT doc_id, string_split(
      |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
      |    ' ') AS t
      |  FROM base),
      |n AS (SELECT doc_id,
      |  (CASE WHEN t = [''] THEN 0 ELSE len(t) END)::BIGINT AS n_tokens FROM d),
      |wc AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+11], ' ') AS win
      |  FROM d, unnest(generate_series(1, len(t) - 11)) AS u(i)
      |  WHERE len(t) >= 12),
      |rc AS (SELECT doc_id, pos,
      |  row_number() OVER w AS rn, first_value(doc_id) OVER w AS adoc
      |  FROM wc WINDOW w AS (PARTITION BY win ORDER BY doc_id, pos)),
      |dupc AS (SELECT doc_id, pos, pos + 11 AS e, adoc FROM rc WHERE rn > 1),
      |pairs AS (SELECT DISTINCT adoc AS a, doc_id AS b FROM dupc
      |  WHERE adoc <> doc_id),
      |pdocs AS (SELECT a AS doc_id FROM pairs
      |  UNION SELECT b FROM pairs),
      |wf AS MATERIALIZED (SELECT d.doc_id, i AS pos,
      |    array_to_string(t[i:i+5], ' ') AS win
      |  FROM d JOIN pdocs USING (doc_id),
      |    unnest(generate_series(1, len(t) - 5)) AS u(i)
      |  WHERE len(t) >= 6),
      |finedup AS (SELECT DISTINCT fb.doc_id, fb.pos, fb.pos + 5 AS e
      |  FROM (SELECT p.a, f.doc_id, f.pos, f.win
      |      FROM wf f JOIN pairs p ON f.doc_id = p.b) fb
      |  JOIN (SELECT DISTINCT p.a, f.win
      |      FROM wf f JOIN pairs p ON f.doc_id = p.a) fa
      |    ON fb.a = fa.a AND fb.win = fa.win),
      |iv AS (SELECT doc_id, pos, max(e) AS e FROM (
      |  SELECT doc_id, pos, e FROM dupc
      |  UNION ALL SELECT doc_id, pos, e FROM finedup) GROUP BY 1, 2)""".stripMargin

  /** The unrolled BPE-training WITH-stages for the q92/q93/q101 oracles:
    * `w0` = symbol-split word frequencies (`symSplit`: per-code-point by
    * default; q101 passes the per-UTF-8-byte hex split), then per rank
    * r: `pairsR` (adjacent-pair counts), `bestR` (argmax with the total
    * tiebreak), `wR` (greedy merge via a separator-string `list_reduce`
    * fold — the `^` sentinel seeds the accumulator so every symbol is
    * `|`-preceded and `ends_with` tests complete symbols only). A stage
    * whose best pair falls under minPairCount=2 — or whose pair table is
    * EMPTY (every word fully merged; bestR is 0 rows, hence the LEFT
    * JOIN ON true) — is a no-op, mirroring [[graft.ops.Bpe.train]]'s
    * early stop (later stages then recompute the same exhausted state
    * and stay no-ops).
    */
  private def bpeOracleStages(n: Int, wordsSource: String =
      """SELECT unnest(string_split(
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')),
        |    ' ')) AS w FROM documents""".stripMargin,
      symSplit: String = "string_split(w, '')"): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT w, array_to_string($symSplit, '|') AS s,
         |    count(*)::BIGINT AS cnt
         |  FROM ($wordsSource)
         |  WHERE w <> '' GROUP BY 1, 2)""".stripMargin
    val stages = (1 to n).map { r =>
      s"""pairs$r AS (
         |  SELECT sp[i] AS lhs, sp[i+1] AS rhs, sum(cnt)::BIGINT AS pc
         |  FROM (SELECT cnt, string_split(s, '|') AS sp FROM w${r - 1}),
         |       unnest(generate_series(1, len(sp)-1)) AS u(i)
         |  GROUP BY 1, 2),
         |best$r AS (SELECT lhs, rhs, pc FROM pairs$r
         |  ORDER BY pc DESC, lhs ASC, rhs ASC LIMIT 1),
         |w$r AS (
         |  SELECT w, cnt, CASE WHEN b.pc IS NULL OR b.pc < 2 THEN s ELSE
         |    substr(list_reduce(list_prepend('^', string_split(s, '|')),
         |    (acc, x) -> CASE
         |      WHEN ends_with(acc, '|' || b.lhs) AND x = b.rhs
         |      THEN substr(acc, 1, length(acc) - length(b.lhs) - 1)
         |        || '|' || b.lhs || b.rhs
         |      ELSE acc || '|' || x END), 3) END AS s
         |  FROM w${r - 1} LEFT JOIN best$r b ON true)""".stripMargin
    }
    (w0 +: stages).mkString(",\n")
  }
}
