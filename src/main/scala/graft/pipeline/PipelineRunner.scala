package graft.pipeline

import graft.cdc.Changelog
import graft.model._
import graft.route.{RouteMode, TableIdRouter}
import graft.schema.{SchemaMerging, SchemaRegistry}
import graft.sinks.DataSink
import graft.sources.{CdcDataSource, SourceBatch}
import graft.transform.TransformEngine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The pipeline composer/executor: wires source → transform → route →
  * schema-evolution registry → partition → sink, the reference's fixed
  * topology (FlinkPipelineComposer.java:176-260) re-expressed over
  * micro-batches of DataFrames.
  *
  * Scale notes: the only per-row work is Catalyst projections (transform,
  * coercion) and one hash repartition on the sink key before write — the
  * same single shuffle the reference performs (PrePartitionOperator).
  * All control-plane work (routing, schema merge, DDL) is O(#tables) on
  * the driver, never O(rows).
  *
  * Routed writes are held, not written at once — the reference's sink
  * writer likewise buffers until a FlushEvent, which SchemaOperator emits
  * before every DDL. A held write joins the most recent one when both
  * target the same sink table with the same schema (`unionByName`), so a
  * sink table that several source tables or DDL segments feed gets one
  * repartition and one `sink.write` per schema epoch instead of one per
  * (source table × segment) — on a copy-on-write sink every write costs a
  * fixed set of Spark jobs whatever its size. Held writes flush in
  * arrival order (1) before any derived schema change reaches the
  * registry or sink, and (2) when the outermost [[deferWrites]] scope
  * ends: the end of a [[processBatch]] call made on its own, or the end
  * of a streaming micro-batch's table loop. Only adjacent writes merge and
  * every schema change flushes first, so each sink sees the same sequence
  * of schema changes and data, in fewer writes; inside a merged write,
  * per-key resolution follows `__seq` (log order).
  */
final class PipelineRunner(
    spark: SparkSession,
    pipeline: PipelineDef,
    source: CdcDataSource,
    sink: DataSink) {

  // Per-sink DDL filtering (the reference's MetadataApplier contract,
  // MetadataApplier.java:36-51; option surface schema-evolution.md:71-109):
  // `include.schema.changes` / `exclude.schema.changes` accept kinds or
  // families ("drop" = drop.column + drop.table). The lists resolve
  // against the behavior via [[graft.schema.SchemaEvolutionTypes]] —
  // LENIENT defaults to excluding drop.table + truncate.table unless an
  // explicit (even empty) exclude overrides, and a user include list
  // implicitly keeps create.table (FLINK-37837).
  private def sinkKindList(key: String): Option[Seq[String]] =
    pipeline.sink.options.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  val registry = new SchemaRegistry(
    pipeline.schemaChangeBehavior,
    includeKinds = Some(graft.schema.SchemaEvolutionTypes.resolveIncluded(
      pipeline.schemaChangeBehavior,
      sinkKindList("include.schema.changes"),
      sinkKindList("exclude.schema.changes"))))
  // fail fast on source-option typos (unknown keys under scan./chunk-/
  // connect reserved prefixes), whatever backend ends up interpreting them
  graft.sources.SourceOptions.resolve(pipeline.source.options)
  // composer validation (FlinkPipelineComposer.java:310-326, message
  // verbatim): a sink that DECLARES its own routing keys only supports
  // SINK_DEFINED — rejected HERE at construction (= the reference's
  // compose time), before any DDL or data reaches the sink
  pipeline.partitionStrategy match {
    case PartitionStrategy.PrimaryKey | PartitionStrategy.TableIdHash
        if sink.declaresPartitionKeys =>
      throw new IllegalArgumentException(String.format(
        "Sink type '%s' only supports %s=%s when DataSink" +
          ".getDataChangeEventHashFunctionProvider(...) returns a custom " +
          "HashFunctionProvider, but found %s.",
        pipeline.sink.kind, "sink.partitioning.strategy", "SINK_DEFINED",
        PartitionStrategy.name(pipeline.partitionStrategy)))
    case _ => ()
  }
  // `pipeline.local-time-zone` (PipelineOptions.java:92-110): applied as
  // the session zone so LOCALTIMESTAMP / DATE_FORMAT-on-LTZ render in the
  // pipeline's declared zone — the same mechanism the reference's
  // PostTransformOperator threads its timezone through. The prior zone is
  // saved so the override cannot leak into later work on the shared
  // session ([[run]] restores it; long-lived wrappers that feed
  // [[processBatch]] directly call [[restoreSessionZone]] when they stop)
  private val priorSessionZone: Option[String] = pipeline.localTimeZone.map { z =>
    val prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", z)
    prior
  }

  /** Undo the `pipeline.local-time-zone` session override (no-op when the
    * pipeline declared none).
    */
  def restoreSessionZone(): Unit =
    priorSessionZone.foreach(z => spark.conf.set("spark.sql.session.timeZone", z))
  // declared models become SQL functions visible to transform expressions
  graft.functions.CdcFunctions.registerModels(spark, pipeline.models)
  // declared UDFs register by classpath (public no-arg ctor + eval)
  pipeline.udfs.foreach(u =>
    graft.functions.UdfRegistry.registerByClasspath(spark, u.name, u.classpath, u.options))
  private val engine = new TransformEngine(spark, pipeline.transforms,
    metadataKeys = pipeline.source.options.get("metadata.list")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil))
  private val router = new TableIdRouter(pipeline.routes, pipeline.routeMode)

  /** How many sink tables a source table's rows fan out to — each routed
    * sink is one independent write action over the decoded frame, which
    * is what the streaming fast path needs to know (a single consumer
    * makes the unpersisted __seq self-consistent unconditionally).
    */
  def routeFanOut(tableId: TableId): Int = router.route(tableId).size
  /** The source-table schema plane: each upstream table as the database
    * sends it now (every schema event applies here faithfully, Evolve),
    * beside the registry's SINK plane. Streaming decodes with it,
    * projected and many-to-one DDL derive from it, and batch mode emits
    * creates in its creation order. The pair is the reference's
    * SchemaManager (SchemaManager.java:56); streaming checkpoints both.
    */
  val sourcePlane = new SchemaRegistry(graft.schema.SchemaChangeBehavior.Evolve)
  // batch mode (BatchSchemaOperator.java:108-139): creates buffer until
  // the first data event, then every sink's schema derives in one shot
  private var batchCreatesEmitted = false

  /** Source-table schema after the transform rule's projection, obtained by
    * planning the projection against an empty frame — Catalyst is the type
    * deducer (the reference needed Calcite's RelDataType for this,
    * TransformParser.java:393-499).
    */
  private def transformedInfo(tableId: TableId, info: TableInfo): TableInfo = {
    engine.ruleFor(tableId) match {
      case None => info
      case Some(rule) =>
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), info.schema)
        val outSchema = engine.transformBatch(tableId, empty).schema
        info.copy(
          schema = outSchema,
          primaryKeys = if (rule.primaryKeys.nonEmpty) rule.primaryKeys else info.primaryKeys,
          partitionKeys = if (rule.partitionKeys.nonEmpty) rule.partitionKeys else info.partitionKeys,
          options = info.options ++ rule.tableOptions)
    }
  }

  /** Handle one DDL event: transform schema, route to sink tables, merge
    * with what each sink table already has (sharded-table widening), then
    * hand derived DDL to the registry + sink.
    */
  private def handleSchemaChange(e: SchemaChangeEvent): Unit = {
    if (pipeline.batchMode) {
      // BatchSchemaOperator.processElement: only CreateTable and data
      // events are legal in a bounded run — creates buffer (no emission
      // until the first data event), anything else is a hard error
      e match {
        case c: CreateTableEvent => sourcePlane.apply(c)
        case other =>
          throw new RuntimeException(s"Unknown event type in Batch record: $other")
      }
      return
    }
    val routed = router.route(e.tableId)
    val prevUp = sourcePlane.evolvedInfo(e.tableId)
    // upstreams BEFORE the event, so a DropTable of the last depending
    // upstream still forwards
    val upstreams = sourcePlane.tables
    sourcePlane.apply(e)
    e match {
      case CreateTableEvent(_, info) =>
        val transformed = transformedInfo(e.tableId, info)
        routed.foreach { sinkId =>
          registry.evolvedInfo(sinkId) match {
            case Some(existing) =>
              // an already-created routed sink EVOLVES by diff — the
              // reference's SchemaCoordinator emits AddColumn/AlterType
              // against the least-common schema, never a second
              // CreateTable (SchemaCoordinator.deduceEvolvedSchemaChanges)
              val merged = SchemaMerging.leastCommonTableInfo(Seq(existing, transformed))
              schemaDiff(sinkId, existing.schema, merged.schema).foreach(applyToSink)
            case None =>
              applyToSink(CreateTableEvent(sinkId, transformed))
          }
        }
      case other =>
        // A rule WITH a projection decouples the sink schema from the
        // upstream one: re-derive the projected schema under the updated
        // upstream plane and emit the DIFF (the reference's
        // SchemaDerivator) — an unreferenced add is a no-op downstream,
        // a wildcard add lands inside the star zone (before computed
        // columns), and retyping a referenced column retypes the computed
        // outputs that read it. Rules without a projection pass
        // column events through directly.
        val projecting = engine.ruleFor(e.tableId).exists(_.projection.isDefined)
        val derived: TableId => Seq[SchemaChangeEvent] =
          if (projecting && prevUp.isDefined) {
            try {
              val oldT = transformedInfo(e.tableId, prevUp.get)
              val newT = sourcePlane.evolvedInfo(e.tableId)
                .map(transformedInfo(e.tableId, _)).getOrElse(oldT)
              sinkId => deriveProjected(sinkId, oldT.schema, newT.schema, other)
            } catch {
              case ex: Exception =>
                // a projection that no longer plans (e.g. its referenced
                // column was renamed away) must not kill the pipeline
                // here — data-time resolution reports it with context
                System.err.println(s"[graft] derived-DDL planning failed for " +
                  s"${e.tableId}: ${ex.getMessage}")
                sinkId => rewriteFor(sinkId, other)
            }
          } else sinkId => rewriteFor(sinkId, other)
        routed.foreach { sinkId =>
          // many-to-one routing: the sink serves SEVERAL upstream tables,
          // so per-table DDL cannot forward — a rename in one shard must
          // not rename a column other shards still write. The reference
          // folds least-common over every depending upstream schema and
          // emits the DIFF (rename => add, drop => no-op)
          val events =
            if (upstreams.count(router.route(_).contains(sinkId)) > 1) mergedDiff(sinkId)
            else derived(sinkId)
          events.foreach(applyToSink)
        }
    }
  }

  /** Merged-sink DDL: diff the current evolved schema against the fold of
    * least-common over all depending (transformed) upstream schemas —
    * `SchemaCoordinator.deduceEvolvedSchemaChanges` steps 3.3-3.5. The
    * fold STARTS from the current evolved schema, so columns other
    * upstreams rely on can never disappear.
    */
  private def mergedDiff(sinkId: TableId): Seq[SchemaChangeEvent] =
    registry.evolvedInfo(sinkId) match {
      case Some(cur) =>
        val deps = sourcePlane.tables.filter(router.route(_).contains(sinkId))
          .flatMap(u => sourcePlane.evolvedInfo(u).map(transformedInfo(u, _)))
        val merged = deps.foldLeft(cur)((acc, d) =>
          SchemaMerging.leastCommonTableInfo(Seq(acc, d)))
        schemaDiff(sinkId, cur.schema, merged.schema)
      case None => Nil
    }

  /** Batch-mode up-front schema derivation
    * (SchemaDerivator.deduceMergedCreateTableEvent, SchemaDerivator.java:348-389):
    * group the buffered (transformed) upstream schemas per route rule,
    * fold least-common inside each group, assign the merged schema to
    * every routed sink id; un-routed tables pass through unchanged.
    * Emission order is first-create order of the resolved sink ids.
    */
  private def emitMergedBatchCreates(): Unit = {
    val tables = sourcePlane.tables
    val tinfos = tables.map(t => t -> transformedInfo(t, sourcePlane.evolvedInfo(t).get)).toMap
    val groups = router.groupByRule(tables.toSet)
    val sinkSchemas = scala.collection.mutable.LinkedHashMap[TableId, TableInfo]()
    val routedTables = scala.collection.mutable.Set[TableId]()
    groups.foreach { g =>
      val members = tables.filter(g)
      if (members.nonEmpty) {
        val merged = SchemaMerging.leastCommonTableInfo(members.map(tinfos))
        members.foreach { t =>
          routedTables += t
          router.route(t).foreach(sinkId => sinkSchemas(sinkId) = merged)
        }
      }
    }
    tables.foreach { t =>
      if (!routedTables(t) && !sinkSchemas.contains(t)) sinkSchemas(t) = tinfos(t)
    }
    sinkSchemas.foreach { case (sinkId, info) =>
      applyToSink(CreateTableEvent(sinkId, info))
    }
  }

  /** Derived sink DDL for a projected table: the diff between the
    * projected schema before and after the upstream event, with renames
    * of surviving columns preserved as renames.
    */
  private def deriveProjected(sinkId: TableId, oldS: StructType,
      newS: StructType, e: SchemaChangeEvent): Seq[SchemaChangeEvent] = e match {
    case RenameColumnEvent(_, m) =>
      val oldNames = oldS.fieldNames.toSet
      val newNames = newS.fieldNames.toSet
      val surviving = m.filter { case (from, to) => oldNames(from) && newNames(to) }
      val renamedOld = StructType(oldS.fields.map(f =>
        f.copy(name = surviving.getOrElse(f.name, f.name))))
      (if (surviving.nonEmpty) Seq(RenameColumnEvent(sinkId, surviving)) else Nil) ++
        schemaDiff(sinkId, renamedOld, newS)
    case _: AddColumnEvent | _: DropColumnEvent | _: AlterColumnTypeEvent =>
      schemaDiff(sinkId, oldS, newS)
    case structural => rewriteFor(sinkId, structural)
  }

  private def schemaDiff(sinkId: TableId, oldS: StructType,
      newS: StructType): Seq[SchemaChangeEvent] = {
    val oldNames = oldS.fieldNames.toSet
    val newNames = newS.fieldNames.toSet
    val drops = oldS.fieldNames.toSeq.filterNot(newNames)
    // adds anchor After their predecessor in the NEW schema — earlier adds
    // in the same event apply in order, so a new-column predecessor exists
    val adds = newS.fields.toSeq.zipWithIndex.collect {
      case (f, i) if !oldNames(f.name) =>
        (f, if (i == 0) ColumnPosition.First
            else ColumnPosition.After(newS.fields(i - 1).name): ColumnPosition)
    }
    val retyped = newS.fields.toSeq
      .filter(f => oldNames(f.name) && oldS(f.name).dataType != f.dataType)
      .map(f => f.name -> f.dataType)
    Seq(
      if (drops.nonEmpty) Some(DropColumnEvent(sinkId, drops)) else None,
      if (adds.nonEmpty) Some(AddColumnEvent(sinkId, adds)) else None,
      if (retyped.nonEmpty) Some(AlterColumnTypeEvent(sinkId, retyped.toMap)) else None
    ).flatten
  }

  private def rewriteFor(sinkId: TableId, e: SchemaChangeEvent): Seq[SchemaChangeEvent] = {
    val sinkCols = registry.evolvedInfo(sinkId).map(_.fieldNames.toSet).getOrElse(Set.empty)
    e match {
      case AddColumnEvent(_, cols) => Seq(AddColumnEvent(sinkId, cols))
      case DropColumnEvent(_, cols) =>
        val present = cols.filter(sinkCols)
        if (present.isEmpty) Nil else Seq(DropColumnEvent(sinkId, present))
      case RenameColumnEvent(_, m) =>
        val present = m.filter { case (from, _) => sinkCols(from) }
        if (present.isEmpty) Nil else Seq(RenameColumnEvent(sinkId, present))
      case AlterColumnTypeEvent(_, m) =>
        val present = m.filter { case (c, _) => sinkCols(c) }
        if (present.isEmpty) Nil else Seq(AlterColumnTypeEvent(sinkId, present))
      case AlterTableCommentEvent(_, c) => Seq(AlterTableCommentEvent(sinkId, c))
      case TruncateTableEvent(_) => Seq(TruncateTableEvent(sinkId))
      case DropTableEvent(_) => Seq(DropTableEvent(sinkId))
      case c: CreateTableEvent => Seq(c.copy(tableId = sinkId))
    }
  }

  /** Project an exploded changelog's payload onto the sink schema, keeping
    * the changelog columns — per-row coercion as pure projection
    * (SchemaMergingUtils.coerceRow semantics).
    */
  private def coerceExploded(df: DataFrame, target: StructType): DataFrame = {
    val cls: Seq[Column] =
      SchemaMerging.coercionColumns(
        StructType(df.schema.filterNot(f => f.name == Changelog.OpCol || f.name == Changelog.SeqCol)),
        target) ++ Seq(col(Changelog.OpCol), col(Changelog.SeqCol))
    df.select(cls: _*)
  }

  /** Run the pipeline to completion (batch mode) or until the source's
    * batch iterator is exhausted (streaming wrappers feed batches in
    * through [[processBatch]] directly and pass no source).
    */
  def run(): Unit = {
    require(source != null, "run() needs a CdcDataSource; streaming wrappers call processBatch")
    try source.batches(spark).foreach(processBatch)
    finally restoreSessionZone()
  }

  /** A routed write waiting for the flush barrier: the coerced changelog
    * frame(s) for one sink table under one schema.
    */
  private final class HeldWrite(val sinkId: TableId, val info: TableInfo,
      var frame: DataFrame)

  private val held = scala.collection.mutable.ArrayBuffer.empty[HeldWrite]
  private var deferDepth = 0

  /** Run `body` with routed writes held until it returns, then flush them
    * (class scaladoc, "Scale notes"). A nested scope joins the outer one;
    * on failure the held writes are dropped — the batch replays whole.
    */
  private[graft] def deferWrites(body: => Unit): Unit = {
    deferDepth += 1
    try {
      body
      if (deferDepth == 1) flushWrites()
    } finally {
      deferDepth -= 1
      if (deferDepth == 0) held.clear()
    }
  }

  /** Every derived schema change reaches the registry and the sink
    * through here, behind the held writes it must follow.
    */
  private def applyToSink(e: SchemaChangeEvent): Unit = {
    flushWrites()
    registry.applyTo(e)(sink.applySchemaChange)
  }

  private def hold(sinkId: TableId, frame: DataFrame, info: TableInfo): Unit =
    held.lastOption match {
      case Some(h) if h.sinkId == sinkId && h.info == info =>
        h.frame = h.frame.unionByName(frame)
      case _ => held += new HeldWrite(sinkId, info, frame)
    }

  private def flushWrites(): Unit = {
    val writes = held.toList
    held.clear()
    writes.foreach(h => sink.write(h.sinkId, prePartition(h.sinkId, h.frame, h.info), h.info))
  }

  /** PrePartition analog (RegularPrePartitionOperator): hash-distribute
    * per the configured strategy so each sink partition owns a disjoint
    * key set (the SINK_DEFINED-only validation for key-declaring sinks
    * already ran at construction, below the class body — compose time,
    * like the reference).
    */
  private def prePartition(sinkId: TableId, coerced: DataFrame, info: TableInfo): DataFrame =
    if (pipeline.parallelism <= 1) coerced
    else pipeline.partitionStrategy match {
      case PartitionStrategy.PrimaryKey if info.primaryKeys.nonEmpty =>
        coerced.repartition(pipeline.parallelism, info.primaryKeys.map(col): _*)
      case PartitionStrategy.TableIdHash =>
        coerced.repartition(pipeline.parallelism, lit(sinkId.identifier))
      case PartitionStrategy.SinkDefined(explicit) =>
        // explicit keys from the pipeline def win; otherwise the sink's
        // declared keys; otherwise the default provider (primary-key
        // hashing — DefaultDataChangeEventHashFunctionProvider)
        val keys = Some(explicit).filter(_.nonEmpty)
          .orElse(sink.sinkDefinedPartitionKeys(sinkId, info).filter(_.nonEmpty))
          .getOrElse(info.primaryKeys)
        if (keys.nonEmpty)
          coerced.repartition(pipeline.parallelism, keys.map(col): _*)
        else coerced
      case _ => coerced
    }

  def processBatch(batch: SourceBatch): Unit = deferWrites {
    batch.schemaChanges.foreach(handleSchemaChange)
    if (pipeline.batchMode && !batchCreatesEmitted && batch.data.nonEmpty) {
      emitMergedBatchCreates()
      batchCreatesEmitted = true
    }
    batch.data.foreach { case (tableId, paired) =>
      val transformed = engine.transformChangelog(tableId, paired)
      router.route(tableId).foreach { sinkId =>
        val info = registry.evolvedInfo(sinkId).getOrElse(
          throw new IllegalStateException(s"no CreateTable seen for $sinkId"))
        hold(sinkId, coerceExploded(Changelog.explode(transformed), info.schema), info)
      }
    }
  }
}
