package graft.streaming

import graft.cdc.{Changelog, DdlParser, WireFormat}
import graft.model.{CreateTableEvent, TableId, TableInfo}
import graft.pipeline.{PipelineDef, PipelineRunner}
import graft.sinks.DataSink
import graft.sources.SourceBatch
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming front end: a streaming DataFrame of CDC-JSON
  * envelopes in one of the three [[WireFormat]]s — debezium and canal
  * (the reference Kafka pipeline source's two formats) or MongoDB change
  * streams — drives the [[PipelineRunner]] through `foreachBatch`, entered
  * by [[start]] (declared schemas) or the two `*Inferred` methods
  * (schema-less debezium topics). The micro-batch boundary is the
  * flush/DDL barrier (the reference needs an explicit FlushEvent +
  * coordinator RPC for this; SchemaOperator.java:161-199).
  *
  * Offsets and sink state ride on Spark's checkpoint mechanism: with a
  * `checkpointLocation` the stream resumes exactly where it stopped, and
  * because each batch is keyed by `__seq`, replayed batches overwrite
  * idempotently in PK-keyed sinks (at-least-once delivery, exactly-once
  * table state).
  *
  * The [[PipelineRunner]] owns all schema state: its `registry` (sink
  * plane) and `sourcePlane` (each source table as the database sends
  * it). This class decodes with the source plane, sends every schema
  * event through `runner.processBatch`, creates a declared table when the
  * source plane lacks it, and captures the source plane's undeclared
  * tables. With a checkpoint, a batch that changes a plane writes it to
  * `graft-schema-state-<batch>.yaml` (sink) or
  * `graft-upstream-schema-<batch>.yaml` (source) in the checkpoint
  * directory; a restart restores the newest files tagged before its first
  * batch, so a replayed batch starts from the state it first saw.
  */
final class StreamingPipeline(
    spark: SparkSession,
    pipeline: PipelineDef,
    sink: DataSink) {

  private[graft] val runner = new PipelineRunner(spark, pipeline, null, sink)

  /** DDL type names resolve through the SOURCE database's dialect map
    * (`source.dialect` option, e.g. "postgres" — a postgres feed's
    * `ALTER COLUMN ... TYPE TIMESTAMPTZ` is not a MySQL spelling);
    * defaults to MySQL, the reference's flagship source.
    */
  private val ddlTypes: (String, Int, Int) => org.apache.spark.sql.types.DataType =
    pipeline.source.options.get("dialect")
      .map(d => graft.sources.ConnectorCatalog.forName(d).typeMap)
      .getOrElse(graft.sources.ConnectorCatalog.mysqlTypes)

  /** Newly-added-table capture (the reference's
    * `scan.newly-added-table.enabled`, MySqlDataSourceOptions.java:239):
    * when enabled, a wire `CREATE TABLE` for a table NOT in the declared
    * list registers it mid-stream — data from that position on
    * materializes with the wire-declared schema. Off by default, like the
    * reference.
    */
  private val newlyAddedCapture: Boolean =
    pipeline.source.options.get("scan.newly-added-table.enabled").exists(_.toBoolean)

  /** Micro-batches that took the persist-first (slow) path — driver-side
    * counter, observability for specs pinning the fast-path gate.
    */
  private[graft] var persistedBatches = 0

  /** Wire DDL statements skipped because they did not parse — driver-side
    * counter beside the stderr line each skip prints.
    */
  private[graft] var skippedDdlStatements = 0

  /** Start a streaming query over `format` envelopes carrying `tables`
    * (one or many — the reference's Kafka pipeline source and the MySQL
    * source multiplex every captured table onto one feed). The tables'
    * schemas must be known (CDC JSON carries no types); each CreateTable
    * event is synthesized on the first batch that finds the table missing
    * from the source plane — never after a restore that holds it (a
    * re-Create would reset the table's evolution).
    * `format` alone reads the envelopes: their decode, the table and
    * database each record names and its DDL statement. With several
    * tables (or newly-added-table capture) each record routes by
    * [[WireFormat.table]] and [[WireFormat.database]], and every table
    * keeps its own source-plane schema and its own DDL segmentation, so
    * an ALTER TABLE on one table never re-decodes or blocks the others.
    * A format without a DDL channel (mongo) runs no DDL probe.
    *
    * `order`: an optional DETERMINISTIC log-order expression over the
    * stream's columns — a pure function of each row's own content that is
    * unique per record and monotone in log order per key within a
    * micro-batch, fitting in 43 bits (e.g. the Kafka `offset` column on a
    * keyed topic, a binlog position field the envelope carries, or any
    * unique event timestamp/id). When supplied, `__seq` becomes
    * `epoch<<43 | order` — identical under ANY recomputation, task retry,
    * or repeated evaluation — which lets DDL-free batches skip the
    * per-batch persist on multi-table topics and >1-sink fan-outs too
    * (see the fast-path note in the batch loop below).
    */
  def start(
      jsonStream: DataFrame, // one string column `value`
      format: WireFormat,
      tables: Seq[(TableId, TableInfo)],
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      order: Option[Column] = None): StreamingQuery =
    runBatches(jsonStream, checkpointLocation, trigger)(declaredBatch(format, tables, order))

  /** [[start]] over one debezium-JSON table. */
  def startFromDebeziumJson(
      jsonStream: DataFrame,
      tableId: TableId,
      info: TableInfo,
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      schemaInclude: Boolean = false, // Connect {"schema":..,"payload":..} wrapping
      connectWire: Boolean = false, // epoch-int temporals
      order: Option[Column] = None): StreamingQuery =
    start(jsonStream, WireFormat.Debezium(schemaInclude, connectWire), Seq(tableId -> info),
      checkpointLocation, trigger, order)

  /** [[start]] over a canal-JSON topic. */
  def startMultiFromCanalJson(
      jsonStream: DataFrame,
      tables: Seq[(TableId, TableInfo)],
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      order: Option[Column] = None): StreamingQuery =
    start(jsonStream, WireFormat.Canal, tables, checkpointLocation, trigger, order)

  /** Schema-less topic: no declared schema and no DDL channel (the
    * reference's Kafka pipeline source in JSON mode infers schemas
    * continuously from records). Each micro-batch infers the payload
    * schema from its `after`/`before` documents, widens the current
    * source-plane schema through the merging lattice, and emits the
    * difference as AddColumn / AlterColumnType events before decoding —
    * so a field that appears (or widens) mid-stream evolves the sink
    * exactly like wire DDL would. First batch synthesizes CreateTable
    * from its own inference (fields alphabetical, the inference order).
    */
  def startFromDebeziumJsonInferred(
      jsonStream: DataFrame,
      tableId: TableId,
      primaryKeys: Seq[String],
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runBatches(jsonStream, checkpointLocation, trigger) { (batch, epochId) =>
      val sequenced = batch
        .withColumn(Changelog.SeqCol, StreamingPipeline.seqColumn(epochId))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      inferAndApply(tableId, primaryKeys, sequenced)
      sequenced.unpersist(false)
    }

  /** Multi-table schema-less topic: every table on the feed materializes
    * (inherently newly-added-table capture — there is no declared list),
    * each with its own inferred, continuously-widened schema. One pass
    * stamps the routing key; the per-batch table list is an O(#tables)
    * distinct, and each table's slice pays one inference + one decode —
    * the same work the reference's schema-aware JSON source does per
    * table, batched.
    *
    * `primaryKeysOf` maps table ids to primary keys (CDC JSON carries
    * none) — full identifiers ("db1.users") take precedence, bare table
    * names serve as a single-db fallback; unlisted tables materialize
    * keyless (append-only semantics in keyed sinks).
    */
  def startMultiFromDebeziumJsonInferred(
      jsonStream: DataFrame,
      primaryKeysOf: Map[String, Seq[String]],
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runBatches(jsonStream, checkpointLocation, trigger) { (batch, epochId) =>
      import org.apache.spark.sql.functions._
      val sequenced = StreamingPipeline.withRoutingKey(batch, WireFormat.Debezium())
        .withColumn(Changelog.SeqCol, StreamingPipeline.seqColumn(epochId))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // O(#tables observed this batch) driver rows, never O(rows)
      val tbls = sequenced
        .where(col(StreamingPipeline.RoutingCol).isNotNull)
        .select(col(StreamingPipeline.RoutingCol), col(StreamingPipeline.RoutingDbCol))
        .distinct().collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).sortBy(_._1)
      tbls.foreach { case (name, db) =>
        val tid = db.map(d => TableId.schemaTable(d, name))
          .getOrElse(TableId.tableOnly(name))
        // slice EXACTLY this (table, db) pair — db1.users and db2.users
        // are distinct tables and must not see each other's rows
        val slice = sequenced.where(
          col(StreamingPipeline.RoutingCol) === name &&
            db.map(col(StreamingPipeline.RoutingDbCol) === _)
              .getOrElse(col(StreamingPipeline.RoutingDbCol).isNull))
        // primary keys resolve by full id first ("db1.users"), bare
        // table name as the single-db fallback
        val pks = primaryKeysOf.getOrElse(tid.identifier,
          primaryKeysOf.getOrElse(name, Nil))
        inferAndApply(tid, pks, slice)
      }
      sequenced.unpersist(false)
    }

  /** One table's slice of a schema-less batch: infer the payload schema,
    * widen the source plane through the merging lattice (CreateTable on
    * first sight, AddColumn / AlterColumnType after), then decode and run
    * the slice with the post-evolution schema.
    */
  private def inferAndApply(
      tableId: TableId, primaryKeys: Seq[String], tblSlice: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val dbz = WireFormat.Debezium()
    val payloads = tblSlice
      .select(coalesce(dbz.field(col("value"), "after"), dbz.field(col("value"), "before")).as("p"))
      .where(col("p").isNotNull)
    // one inference pass per batch — the same per-record scan the
    // reference's schema-aware JSON source pays, batched
    val session = tblSlice.sparkSession
    import session.implicits._
    val inferred = session.read.json(payloads.as[String]).schema
    runner.sourcePlane.evolvedInfo(tableId) match {
      case None if inferred.isEmpty => // empty first batch: wait for data
      case None =>
        runner.processBatch(SourceBatch(
          Seq(CreateTableEvent(tableId, TableInfo(inferred, primaryKeys))), Nil))
      case Some(cur) if !inferred.isEmpty =>
        val merged = graft.schema.SchemaMerging.leastCommonSchema(cur.schema, inferred)
        val curTypes = cur.schema.fields.map(f => f.name -> f.dataType).toMap
        val adds = merged.fields.filterNot(f => curTypes.contains(f.name))
          .map(f => (f, graft.model.ColumnPosition.Last: graft.model.ColumnPosition))
        val widens = merged.fields
          .filter(f => curTypes.get(f.name).exists(_ != f.dataType))
          .map(f => f.name -> f.dataType).toMap
        val events: Seq[graft.model.SchemaChangeEvent] =
          (if (adds.nonEmpty)
            Seq(graft.model.AddColumnEvent(tableId, adds.toIndexedSeq)) else Nil) ++
            (if (widens.nonEmpty) Seq(graft.model.AlterColumnTypeEvent(tableId, widens)) else Nil)
        if (events.nonEmpty) runner.processBatch(SourceBatch(events, Nil))
      case _ => ()
    }
    runner.sourcePlane.evolvedInfo(tableId).foreach { cur =>
      runner.processBatch(SourceBatch(Nil, Seq(tableId ->
        dbz.decode(tblSlice, cur.schema, Some(Changelog.SeqCol)))))
    }
  }

  /** The runner's two schema planes, each with its state file name. */
  private def planes: Seq[(String, graft.schema.SchemaRegistry)] = Seq(
    StreamingPipeline.SchemaStateFile -> runner.registry,
    StreamingPipeline.UpstreamStateFile -> runner.sourcePlane)

  /** Restore both planes for a run whose first micro-batch is
    * `firstBatch`: each takes its newest state file tagged with an earlier
    * batch, so a replayed batch starts from the state before it. Files
    * tagged `firstBatch` or later (never committed) and the ones the
    * restored file supersedes are deleted.
    */
  private def restoreSchemaPlanes(fs: FileSystem, dir: Path, firstBatch: Long): Unit = {
    val names = if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName).toSeq else Nil
    planes.foreach { case (file, plane) =>
      val (before, stale) = names
        .flatMap(n => StreamingPipeline.stateTag(file, n).map(_ -> new Path(dir, n)))
        .sortBy(_._1).partition(_._1 < firstBatch)
      before.lastOption.foreach { case (_, f) =>
        val in = fs.open(f)
        try plane.restoreState(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      }
      (before.dropRight(1) ++ stale).foreach(f => fs.delete(f._2, false))
    }
  }

  /** Write one state file through a temporary file and a rename, so a
    * crash mid-write never leaves a torn state file.
    */
  private def writeState(fs: FileSystem, dst: Path, state: String): Unit = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(state.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, dst), s"could not move $tmp to $dst")
  }

  /** Per-phase wall clock inside the micro-batch, printed when
    * SPARK_GRAFT_STREAM_PROFILE=1 — the breakdown that locates the
    * steady-state eps bound (driver control plane vs decode+write).
    */
  private val profile = sys.env.get("SPARK_GRAFT_STREAM_PROFILE").contains("1")
  private def timed[T](name: String)(f: => T): T =
    if (!profile) f
    else {
      val t0 = System.nanoTime(); val r = f
      System.err.println(
        f"[stream-prof] $name%-14s ${(System.nanoTime() - t0) / 1e6}%6.1f ms")
      r
    }

  /** Every entry point's query: run `body` on each micro-batch. With a
    * checkpoint, the first batch restores both schema planes, and a batch
    * that changes a plane writes it tagged with its batch id, on the
    * checkpoint's own Hadoop filesystem.
    */
  private def runBatches(jsonStream: DataFrame, checkpointLocation: Option[String],
      trigger: Trigger)(body: (DataFrame, Long) => Unit): StreamingQuery = {
    val dir = checkpointLocation.map(new Path(_))
    lazy val fs = dir.get.getFileSystem(spark.sessionState.newHadoopConf())
    // what each plane's newest state file holds; None until the restore
    var written: Option[Seq[String]] = None
    val writer = jsonStream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        dir.filter(_ => written.isEmpty).foreach { d =>
          restoreSchemaPlanes(fs, d, epochId)
          written = Some(planes.map(_._2.snapshotState))
        }
        body(batch.toDF(), epochId)
        dir.foreach(d => timed("schema-persist") {
          val now = planes.map(_._2.snapshotState)
          for ((((file, _), state), prev) <- planes.zip(now).zip(written.get) if state != prev)
            writeState(fs, new Path(d, StreamingPipeline.stateFile(file, epochId)), state)
          written = Some(now)
        })
      }
    checkpointLocation.fold(writer)(cp => writer.option("checkpointLocation", cp)).start()
  }

  /** The declared-schema micro-batch body: sequence, split out DDL
    * envelopes, decode data segments with the schema valid at their log
    * position.
    */
  private def declaredBatch(
      format: WireFormat,
      tables: Seq[(TableId, TableInfo)],
      order: Option[Column]): (DataFrame, Long) => Unit = {
    // a multi-table topic routes by the envelope table; declaring one
    // table with newly-added capture on still needs routing (undeclared
    // tables' rows must not decode as the declared table's)
    val multi = tables.size > 1 || newlyAddedCapture
    val declared = tables.map(_._1).toSet
    val plane = runner.sourcePlane
    val ddl = format.ddl(org.apache.spark.sql.functions.col("value"))
    (batch, epochId) => {
      import org.apache.spark.sql.functions._
      // Seq-column stability. With a caller-supplied `order` expression
      // __seq is a pure projection of each row's own content
      // (epoch<<43 | order) — every evaluation, on every task attempt,
      // after any recomputation or shuffle fetch failure, produces the
      // SAME value for the same record: deterministic by construction.
      // Without `order`, __seq falls back to
      // monotonically_increasing_id, which is only stable if the batch
      // is NOT recomputed between jobs (a repartitioned or
      // non-order-stable upstream would renumber rows and tear segment
      // boundaries or per-key ordering). Two ways to hold that: persist
      // the frame before any action (the general path below), or
      // arrange that exactly ONE action ever evaluates __seq — the
      // mono-id fast path's condition (single table, single routed
      // sink, no DDL → one decode+write job; the probe prunes __seq).
      // Even then, a single evaluation is only self-consistent when no
      // partial recompute can interleave attempts with different
      // numberings: with pipeline.parallelism > 1 the write job
      // contains a repartition shuffle, and a fetch-failure-driven map
      // recompute of a NON-order-stable source could mix numberings
      // across attempts. Replayable micro-batch sources (Kafka, files)
      // re-read in a stable order, making mono-id effectively
      // deterministic per evaluation — the mono-id fast path assumes
      // that; supply `order` to drop the assumption entirely.
      //
      // Routing key: on a multi-table topic the envelope's table name
      // materializes ONCE into the persisted frame (`__tbl`), so the
      // per-table filters below are cached-column string equalities —
      // the JSON probe runs one pass over the data, not once per
      // declared table (500 captured tables would otherwise pay 500
      // JSON probes per record).
      val sequencedBase = batch
        .withColumn(Changelog.SeqCol, order
          .map(StreamingPipeline.deterministicSeqColumn(epochId, _))
          .getOrElse(StreamingPipeline.seqColumn(epochId)))
      val probed = ddl.fold(sequencedBase)(sequencedBase.withColumn("__ddl", _))
      val stamped = (if (multi) StreamingPipeline.withRoutingKey(probed, format)
        else probed)
      // Measured r15 (local[32], 25k-row batches): repartitioning the
      // batch up to defaultParallelism does NOT help — decode+write is
      // bound by fixed per-job/commit overhead at this batch size, and
      // the extra round-robin shuffle + small write files cost more
      // than 8x task parallelism buys. Parallelism stays the source's
      // (a real deployment sizes it via topic partitions).
      //
      // Steady-state fast path (measured r15, extended to multi-table
      // r16): a DDL-free batch — the overwhelmingly common case —
      // never cuts segments, so the cached copy buys little: skip the
      // persist and let each consuming action re-read the source
      // (page-cache hot). Sound under either seq regime: a
      // deterministic `order` makes every re-evaluation identical (so
      // any number of routing filters / fan-out writes agree on
      // __seq), while the mono-id regime needs exactly one consuming
      // action — single table, fan-out 1 (see the stability comment
      // above). The probe is the contains()-guarded __ddl scan with an
      // isEmpty early exit, so data batches pay substring scans, never
      // JSON parses; a format without a DDL channel skips it. Any DDL
      // present falls back to the persist-first path: segmentation runs
      // several isEmpty actions per table over the same frame, where the
      // cached copy earns its cost.
      //
      // The deterministic-order fast path serves at most
      // FastPathMaxActions consuming actions (see there). Tables captured
      // in earlier batches (the source plane's undeclared tables) count
      // too: a topic that grew 200 captured tables must persist.
      val captured = if (newlyAddedCapture) plane.tables.filterNot(declared) else Nil
      val consumingActions = (declared.toSeq ++ captured).map(runner.routeFanOut).sum
      val oneAction = !multi && consumingActions == 1
      val fastPath = (oneAction || (order.isDefined &&
          consumingActions <= StreamingPipeline.FastPathMaxActions)) &&
        (ddl.isEmpty || timed("ddl-probe")(stamped.where(col("__ddl").isNotNull).isEmpty))
      val sequenced =
        if (fastPath) stamped
        else {
          persistedBatches += 1
          stamped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }

      // Control plane: schema-change envelopes are rare, so collecting
      // just their (seq, statement, table, db) tuples is O(#DDL) driver
      // work, never O(rows) — the reference likewise routes history
      // records through the driver-side coordinator. Data decodes per
      // segment BETWEEN DDL positions with the schema valid at that
      // point, so an ALTER TABLE mid-batch applies exactly where the
      // log says it does (the micro-batch boundary alone is no longer
      // the only DDL barrier).
      val allDdl = if (fastPath || ddl.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else timed("cache+ddl") {
        sequenced.where(col("__ddl").isNotNull)
          .select(col(Changelog.SeqCol), col("__ddl"),
            format.table(col("value")).as("__tbl"),
            format.database(col("value")).as("__db"))
          .collect()
          .sortBy(_.getLong(0))
      }
      val data = if (ddl.isEmpty) sequenced else sequenced.where(col("__ddl").isNull)

      // Newly-added-table capture: a wire CREATE TABLE naming an
      // undeclared table registers it. The CREATE itself applies at its
      // log position through the per-table DDL loop below (it is THE
      // creation event — no synthesis); from the next batch on the table
      // is in the source plane, so it is captured.
      val fresh = if (!newlyAddedCapture) Nil else allDdl.toSeq
        .filter(r => !r.isNullAt(2) && !(declared.iterator ++ captured).exists(k =>
          StreamingPipeline.idMatches(k, r.getString(2), Option(r.getString(3)))))
        .flatMap { r =>
          val tid = Option(r.getString(3))
            .map(db => TableId.schemaTable(db, r.getString(2)))
            .getOrElse(TableId.tableOnly(r.getString(2)))
          try DdlParser.parse(r.getString(1), tid, ddlTypes) match {
            case Seq(CreateTableEvent(_, info)) => Some(tid -> info)
            case _ => None // ALTER etc. for a never-created table: skip
          } catch {
            case e: Exception =>
              skippedDdlStatements += 1
              System.err.println(s"[graft] skipping unparseable DDL for " +
                s"undeclared table ${r.getString(2)}: ${e.getMessage}")
              None
          }
        }.distinctBy(_._1)

      val activeTables = tables ++
        captured.flatMap(t => plane.evolvedInfo(t).map(t -> _)) ++ fresh

      // One flush scope per micro-batch: routed writes are held across
      // tables and segments and reach the sink at the next schema change
      // or when the loop ends (PipelineRunner, "Scale notes"), so this
      // phase is where the write jobs run — while `sequenced` is still
      // persisted.
      timed("decode+write")(runner.deferWrites(activeTables.foreach { case (tableId, info) =>
        // On a single-table stream every record is this table's; on a
        // multi-table topic, route by the materialized envelope table.
        // DDL naming no table at all is accepted only in single-table
        // mode (ambiguous on a shared topic).
        val tblData =
          if (multi) StreamingPipeline.routeByTableId(data, tableId)
          else data
        val ddlRows = allDdl.filter { r =>
          val matches = !r.isNullAt(2) && StreamingPipeline.idMatches(
            tableId, r.getString(2), Option(r.getString(3)))
          if (multi) matches else r.isNullAt(2) || matches
        }

        // a declared table is created once the source plane holds it
        if (declared(tableId) && plane.evolvedInfo(tableId).isEmpty)
          runner.processBatch(SourceBatch(Seq(CreateTableEvent(tableId, info)), Nil))

        def emit(segment: DataFrame): Unit = {
          // decode with the CURRENT source-plane schema (what the database
          // is sending now — NOT the runner's transformed sink plane):
          // columns added/renamed by earlier DDL in this very batch parse
          // from this row on
          val cur = plane.evolvedInfo(tableId).getOrElse(info)
          runner.processBatch(
            SourceBatch(Nil, Seq(tableId ->
              format.decode(segment, cur.schema, Some(Changelog.SeqCol)))))
        }

        if (ddlRows.isEmpty) emit(tblData)
        else {
          var lower = Long.MinValue
          ddlRows.foreach { r =>
            val at = r.getLong(0)
            val segment = tblData.where(
              col(Changelog.SeqCol) > lower && col(Changelog.SeqCol) < at)
            if (!segment.isEmpty) emit(segment)
            // an unparseable statement must not kill the stream — log and
            // keep consuming (the reference's history replay does the same
            // for statements it cannot interpret)
            val events =
              try DdlParser.parse(r.getString(1), tableId, ddlTypes)
              catch { case e: Exception =>
                skippedDdlStatements += 1
                System.err.println(s"[graft] skipping unparseable DDL at seq $at: " +
                  s"${r.getString(1).take(200)} (${e.getMessage})")
                Nil
              }
            runner.processBatch(SourceBatch(events, Nil))
            lower = at
          }
          val tail = tblData.where(col(Changelog.SeqCol) > lower)
          if (!tail.isEmpty) emit(tail)
        }
      }))
      if (!fastPath) sequenced.unpersist(false)
    }
  }
}

object StreamingPipeline {

  /** Sink-plane state file in the checkpoint, tagged by [[stateFile]]. */
  val SchemaStateFile = "graft-schema-state.yaml"

  /** Source-plane state file inside the checkpoint, tagged the same way. */
  val UpstreamStateFile = "graft-upstream-schema.yaml"

  /** `file` tagged with the batch it follows: `graft-schema-state-7.yaml`. */
  private def stateFile(file: String, batchId: Long): String =
    s"${file.stripSuffix(".yaml")}-$batchId.yaml"

  /** The batch id the checkpoint entry `name` is tagged with as a state
    * file of `file`, if it is one. The untagged name, which checkpoints of
    * earlier versions hold, counts as written before every batch.
    */
  private def stateTag(file: String, name: String): Option[Long] =
    if (name == file) Some(-1L)
    else (java.util.regex.Pattern.quote(file.stripSuffix(".yaml")) + "-(\\d{1,18})\\.yaml").r
      .unapplySeq(name).map(_.head.toLong)

  /** Column holding the envelope's table name on multi-table topics. */
  val RoutingCol = "__tbl"

  /** Max consuming actions (Σ per-table route fan-out) the DDL-free
    * fast path will serve UNPERSISTED under a deterministic `order`:
    * each action re-decodes the source, so R actions cost R decode
    * passes vs the persist path's one decode + cache build + R cached
    * filters. Measured at 4 tables the re-decodes win (88–99k vs ~66k
    * ev/s — per-pass cost is small and the cache build is the largest
    * per-batch constant); the crossover sits well below a whole-database
    * topic's hundreds of tables, so the cap keeps the fast path to the
    * regime it was measured in.
    */
  val FastPathMaxActions = 8

  /** Column holding the envelope's database name on multi-table topics —
    * TableIds are db-qualified, so routing on the bare table name alone
    * would deliver `db1.users` AND `db2.users` rows to both tables.
    */
  val RoutingDbCol = "__rdb"

  /** Materialize the routing key — the table and database `format`
    * reads from each envelope ([[WireFormat.table]],
    * [[WireFormat.database]]) — once into the batch frame: one probe
    * pass per record, stored with the persisted batch.
    */
  def withRoutingKey(batch: DataFrame, format: WireFormat): DataFrame = {
    import org.apache.spark.sql.functions.col
    batch
      .withColumn(RoutingCol, format.table(col("value")))
      .withColumn(RoutingDbCol, format.database(col("value")))
  }

  /** Route a persisted batch to one table's rows by the FULL table id —
    * a plain string equality on the cached routing column, NO per-table
    * JSON probe (the probe already ran, once, in [[withRoutingKey]]):
    * table-name equality plus, when the id
    * is db-qualified, a database match on the cached db column. Records
    * carrying no database are accepted (a feed without `source.db`
    * cannot be db-disambiguated — same leniency as the reference's
    * Kafka source when the envelope omits the db). An unqualified id
    * accepts any database, preserving single-db-feed behavior.
    */
  def routeByTableId(data: DataFrame, tableId: TableId): DataFrame = {
    import org.apache.spark.sql.functions._
    val qual = tableId.parts.dropRight(1).mkString(".")
    val byName = col(RoutingCol) === tableId.table
    if (qual.isEmpty) data.where(byName)
    else data.where(byName &&
      (col(RoutingDbCol).isNull || col(RoutingDbCol) === qual))
  }

  /** Driver-side analogue of [[routeByTableId]] for collected control
    * rows: does a wire record carrying `(table, db)` belong to
    * `declared`?
    */
  def idMatches(declared: TableId, table: String, db: Option[String]): Boolean =
    declared.table == table && {
      val qual = declared.parts.dropRight(1).mkString(".")
      qual.isEmpty || db.forall(_ == qual)
    }

  /** Cross-batch total order per key, pure projection:
    *   seq = epoch(20 bits) | partition(20 bits) | row-in-partition(23 bits)
    * decoded from monotonically_increasing_id's (pid << 33 | row) layout.
    * Budgets cover a 100 TB backlog read (≤1M input partitions, ≤8.4M rows
    * per partition per batch) and ≤1M micro-batches; any overflow raises
    * instead of silently misordering. Only stable while the batch frame is
    * persisted (a recompute would renumber rows).
    */
  def seqColumn(epochId: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val mono = monotonically_increasing_id()
    val pid = shiftright(mono, 33)
    val rowInPart = mono.bitwiseAND(lit((1L << 33) - 1))
    when(
      pid >= (1L << 20) || rowInPart >= (1L << 23) || lit(epochId >= (1L << 20)),
      raise_error(lit("__seq encoding overflow: needs <2^20 partitions, " +
        "<2^23 rows/partition, <2^20 epochs")))
      .otherwise(shiftleft(lit(epochId), 43) + shiftleft(pid, 23) + rowInPart)
  }

  /** Cross-batch total order per key from a caller-supplied DETERMINISTIC
    * log-order expression: seq = epoch(20 bits) | order(43 bits). Because
    * `order` is a pure function of the row's own content (a Kafka offset,
    * a binlog position, a unique event id), the seq survives any
    * recomputation or task retry bit-identically — no persist needed for
    * stability. Contract on `order` (caller-checked only where cheap):
    * non-null, non-negative, < 2^43, unique per record within the batch,
    * and monotone in log order per key; violations of the range raise,
    * violations of uniqueness/monotonicity silently misorder (the same
    * contract the source's own log gives these fields).
    */
  def deterministicSeqColumn(epochId: Long, order: Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val o = order.cast(org.apache.spark.sql.types.LongType)
    when(o.isNull || o < 0 || o >= (1L << 43) || lit(epochId >= (1L << 20)),
      raise_error(lit("__seq deterministic-order violation: order must be " +
        "non-null, in [0, 2^43), epochs < 2^20")))
      .otherwise(shiftleft(lit(epochId), 43) + o)
  }

  /** Convenience: a file-based debezium-JSON stream (one JSON per line) —
    * the zero-dependency stand-in for a Kafka topic in this environment;
    * swap `.format("text")` for `.format("kafka")` + `selectExpr("CAST
    * (value AS STRING) AS value")` on a real deployment.
    */
  def fileJsonStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.format("text")
    // bounds each micro-batch: with AvailableNow the run becomes a
    // SEQUENCE of batches over the backlog instead of one giant batch —
    // the steady-state shape a real deployment has (and what the stream
    // bench measures since r6)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.load(dir)
  }

  /** Name of the natural-order column emitted by [[fileJsonStreamOrdered]]
    * and consumed as the deterministic-`__seq` `order` expression.
    */
  val FileOrderCol = "__order"

  /** Default segment-number extraction: the LAST run of digits in the
    * file name (rotated log segments are numbered at the end:
    * `part-00042.json`, `binlog.000019`). Override when names carry
    * trailing non-segment digits (Spark part files end in `-c000`):
    * the CLI exposes it as `order.file.regex`.
    */
  val FileSeqRegex = "(\\d+)(?!.*\\d)"

  /** The segment number [[withFileOrder]] will read from a file NAME
    * (same regex semantics as the column-side `regexp_extract`: group 1
    * of the first match) — lets front ends validate a topic's file list
    * BEFORE streaming starts, turning the projection's runtime
    * `raise_error` into a config-time failure (r17 review). None when
    * the regex does not match, has no capture group, the group does not
    * participate in the match, or the digit run overflows a long —
    * every shape a user-supplied `order.file.regex` can produce.
    */
  def fileSeqOf(name: String, seqRegex: String = FileSeqRegex): Option[Long] = {
    val m = java.util.regex.Pattern.compile(seqRegex).matcher(name)
    if (!m.find() || m.groupCount() < 1) None
    else Option(m.group(1)).filter(_.nonEmpty).flatMap(_.toLongOption)
  }

  /** Validate a file-topic DIRECTORY against [[withFileOrder]]'s
    * contract before the query starts: every data file's name must
    * yield a segment number, the numbers must be UNIQUE (a collision —
    * e.g. Spark part files whose last digit run is the constant
    * `c000` — would silently misorder last-wins state, the exact
    * failure the deterministic order exists to prevent), the numbers
    * must fit the `__order` layout (< 2²¹ — date-stamped names like
    * `app-20260816` overflow it; anchor `order.file.regex` to the real
    * segment run), and files must fit the wholetext read (one row per
    * file). Hidden/metadata entries (`_`/`.` prefixes) are skipped like
    * Spark's file source does. Paths resolve through the Hadoop
    * FileSystem API, so remote directories (`hdfs://`, `s3a://`) and
    * glob patterns validate exactly like local ones (the r17
    * `java.io.File` listing silently no-opped on every remote path —
    * cross-file segment collisions then reached the runtime projection,
    * which can only raise on unnumbered/overflowing names, r18 advice).
    * When the path matches NO visible data file yet, validation warns
    * loudly and returns: collisions among files that appear later are
    * unchecked (the long-running-deployment scope note below).
    *
    * Scope: this snapshots the directory ONCE, which covers the CLI's
    * AvailableNow runs completely (the backlog is fixed at start). A
    * long-running multi-trigger deployment owns the numbering contract
    * for segments that arrive AFTER start — a later file whose
    * extracted run collides is caught only if it re-runs validation;
    * the runtime projection raises on unnumbered/overflowing names but
    * cannot see cross-file collisions.
    */
  def validateFileTopicOrder(path: String,
      seqRegex: String = FileSeqRegex,
      maxFileBytes: Long = 512L << 20,
      hadoopConf: org.apache.hadoop.conf.Configuration = null): Unit = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val p = new HPath(path)
    // default to the ACTIVE session's Hadoop conf (fs.s3a credentials,
    // fs.defaultFS, ...) so remote topics validate against the same
    // filesystem view the read will use; a bare Configuration only when
    // no session exists (r18 review)
    val conf = Option(hadoopConf)
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf()))
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    // globStatus resolves both literal paths and glob patterns on any
    // Hadoop filesystem; a matched directory lists one level (the file
    // source's own non-recursive default)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
    val files = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (files.isEmpty) {
      // loud, not silent: the runtime projection raises on unnumbered or
      // overflowing names, but cross-file collisions among files that
      // appear AFTER this point are invisible to it
      System.err.println(s"[graft] order.mode=file: no data files visible " +
        s"at '$path' — segment-number uniqueness is unchecked for files " +
        "that arrive later (re-run validation, or use order.mode: expr)")
      return
    }
    def name(st: FileStatus): String = st.getPath.getName
    val unnumbered = files.filter(f => fileSeqOf(name(f), seqRegex).isEmpty)
    require(unnumbered.isEmpty,
      s"order.mode=file needs a usable segment number in every file name " +
        s"(regex '$seqRegex', capture group 1, digits fitting a long); " +
        s"unusable: ${unnumbered.take(5).map(name).mkString(", ")} — " +
        "set order.file.regex, or order.mode: expr/none")
    val oversizedSeq = files
      .filter(f => fileSeqOf(name(f), seqRegex).exists(_ >= (1L << 21)))
    require(oversizedSeq.isEmpty,
      "order.mode=file: segment numbers must fit __order's 21-bit field " +
        "(< 2097152) — date-stamped names overflow it: " +
        s"${oversizedSeq.take(3).map(name).mkString(", ")} — anchor " +
        "order.file.regex to the rotating segment run, or use " +
        "order.mode: expr/none")
    val collisions = files.groupBy(f => fileSeqOf(name(f), seqRegex).get)
      .filter(_._2.length > 1)
    require(collisions.isEmpty,
      "order.mode=file: segment numbers collide across files (records " +
        "would share __order and last-wins state would be arbitrary): " +
        collisions.take(3).map { case (n, fls) =>
          s"$n <- ${fls.map(name).mkString("/")}" }.mkString("; ") +
        " — fix order.file.regex so the extracted run is the segment " +
        "number, or use order.mode: expr/none")
    val oversized = files.filter(_.getLen > maxFileBytes)
    require(oversized.isEmpty,
      s"order.mode=file reads each segment whole (wholetext) — files over " +
        s"${maxFileBytes >> 20} MB risk executor OOM: " +
        s"${oversized.take(3).map(name).mkString(", ")} — split the " +
        "segments or use order.mode: expr/none")
  }

  /** [[fileJsonStream]] + the file source's NATURAL DETERMINISTIC log
    * order as a column, satisfying the `order` contract of the
    * deterministic-`__seq` fast path with no assumption left on the
    * source: each file is read whole and split into lines, so the line
    * index is a pure function of the file's own content (posexplode over
    * the split — identical on every re-evaluation, task retry, or
    * recompute), and the file's position in the log is the trailing
    * digit run of its NAME (rotated log segments are numbered:
    * `part-00042.json`, `binlog.000019`, ...).
    *
    * `__order` = fileSeq(21 bits) << 22 | lineIdx(22 bits) — ≤2M segment
    * files, ≤4M lines per file; overflow or an un-numbered file name
    * raises (ansi cast / explicit check) instead of misordering. Blank
    * lines are dropped AFTER numbering, so their removal never renumbers
    * later records. Pass `order = Some(col(FileOrderCol))` to
    * [[StreamingPipeline.start]] — the CLI file topics do this by default,
    * after [[validateFileTopicOrder]] (uniqueness, numbering, and the
    * wholetext size bound fail at CONFIG time, not mid-stream).
    *
    * Scope: `__order` totally orders records WITHIN a micro-batch —
    * `__seq` is epoch-prefixed, so across batches the source's
    * DISCOVERY order rules. With the default single AvailableNow batch
    * (no `maxFilesPerTrigger`) that is vacuous; a multi-trigger
    * deployment must ensure segment discovery order (mod-time) agrees
    * with segment numbering — true for rotated logs, but a backfilled
    * older segment landing later still wins the epoch prefix (the same
    * property any log consumer has: replay order is arrival order).
    */
  def fileJsonStreamOrdered(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None,
      seqRegex: String = FileSeqRegex): DataFrame = {
    val reader = spark.readStream.format("text").option("wholetext", "true")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    withFileOrder(reader.load(dir), seqRegex)
  }

  /** The [[fileJsonStreamOrdered]] projection over a `wholetext` read
    * (streaming or batch — the spec pins partitioning/recompute
    * invariance on the batch form): (`__order`, `value`) per line.
    */
  private[streaming] def withFileOrder(raw: DataFrame,
      seqRegex: String = FileSeqRegex): DataFrame = {
    import org.apache.spark.sql.functions._
    val fname = element_at(split(col("_metadata.file_path"), "/"), -1)
    // the segment sequence number (default: last digit run — see
    // FileSeqRegex; group 1 of the first regex match)
    val fseqStr = regexp_extract(fname, seqRegex, 1)
    val fseq = when(fseqStr === "",
        raise_error(concat(lit("fileJsonStreamOrdered: file name carries " +
          "no sequence number: "), fname)))
      // a digit run past a long must fail HERE with the targeted message
      // rather than as an ANSI cast error (or, non-ANSI, a NULL that
      // slips past the __order overflow check below — null condition
      // falls to otherwise). try_cast covers both modes. Test the PARSED
      // value, not the run length: Kafka-style zero-padded names
      // (00000000000000012345.log, 20 digits) fit a long and must keep
      // working (r18 review). Validated paths never reach this;
      // globs/late files can.
      .when(fseqStr.try_cast("long").isNull,
        raise_error(concat(lit("fileJsonStreamOrdered: __order overflow: " +
          "segment digit run exceeds a long: "), fname)))
      .otherwise(fseqStr.try_cast("long"))
    raw
      .select(fseq.as("__fseq"), col("value"))
      .select(col("__fseq"),
        posexplode(split(col("value"), "\n")).as(Seq("__lidx", "value")))
      .where(length(col("value")) > 0)
      .select(
        when(col("__fseq") >= (1L << 21) || col("__lidx") >= (1 << 22),
          raise_error(lit("fileJsonStreamOrdered: __order overflow: needs " +
            "file seq < 2^21 and < 2^22 lines/file")))
          .otherwise(shiftleft(col("__fseq"), 22) + col("__lidx"))
          .as(FileOrderCol),
        col("value"))
  }
}
