package graft.schema

import graft.model._
import scala.collection.mutable

/** How a pipeline reacts to upstream DDL, after the reference's
  * `SchemaChangeBehavior` (flink-cdc-common/.../pipeline/SchemaChangeBehavior.java:27-33;
  * semantics docs/core-concept/schema-evolution.md:36-70). Default LENIENT.
  */
sealed trait SchemaChangeBehavior
object SchemaChangeBehavior {
  case object Ignore extends SchemaChangeBehavior
  case object Lenient extends SchemaChangeBehavior
  case object TryEvolve extends SchemaChangeBehavior
  case object Evolve extends SchemaChangeBehavior
  case object Exception extends SchemaChangeBehavior

  def parse(s: String): SchemaChangeBehavior = s.toLowerCase match {
    case "ignore" => Ignore
    case "lenient" => Lenient
    case "try_evolve" | "tryevolve" => TryEvolve
    case "evolve" => Evolve
    case "exception" => Exception
    case other => throw new IllegalArgumentException(s"unknown behavior: $other")
  }
}

/** Resolution of `include/exclude.schema.changes` against the declared
  * behavior — the reference's `SinkDef.getIncludedSchemaEvolutionTypes`
  * contract, pinned case-by-case by
  * `YamlPipelineDefinitionParserTest.testSchemaEvolutionTypesConfiguration`
  * and `testCreateTableAutoAddedToIncludedSchemaChanges` (FLINK-37837):
  *
  *  - include absent OR explicitly empty → every kind (the reference
  *    branches on `includedSETypes.isEmpty()`,
  *    YamlPipelineDefinitionParser.java:227-232, which cannot tell the
  *    two apart); present and non-empty → the expanded list, with
  *    `create.table` auto-added (the foundational event) UNLESS the
  *    exclude side names it (directly or via the `create`/`table`
  *    families);
  *  - LENIENT with NO explicit exclude defaults to excluding
  *    `drop.table` + `truncate.table` (lenient never destroys sink
  *    tables); an explicit exclude list — even an empty one — replaces
  *    that default;
  *  - exclude always wins over include.
  */
object SchemaEvolutionTypes {
  import graft.model.SchemaChangeEvent

  def resolveIncluded(behavior: SchemaChangeBehavior,
      include: Option[Seq[String]], exclude: Option[Seq[String]]): Set[String] = {
    val all = SchemaChangeEvent.families("all")
    // Some(empty) include == absent (include ALL): the reference's
    // includedSETypes list can't distinguish them. An explicit-but-empty
    // EXCLUDE stays meaningful (disables the LENIENT default below).
    val explicitInclude = include.filter(_.nonEmpty)
    val inc0 = explicitInclude.map(SchemaChangeEvent.expand).getOrElse(all)
    val exc = exclude.map(SchemaChangeEvent.expand).getOrElse(
      if (behavior == SchemaChangeBehavior.Lenient)
        Set("drop.table", "truncate.table") else Set.empty[String])
    val inc =
      if (explicitInclude.isDefined && !exc("create.table")) inc0 + "create.table"
      else inc0
    inc -- exc
  }
}

/** Driver-side schema authority: tracks the original (upstream) and evolved
  * (sink-side) TableInfo per table and decides which DDL reaches the sink.
  *
  * Collapses the reference's SchemaOperator/SchemaCoordinator RPC + flush
  * protocol (SchemaOperator.java:150-253, SchemaCoordinator.java:200-440):
  * under micro-batching the batch boundary IS the flush barrier, so schema
  * changes apply between batches with no distributed coordination.
  */
final class SchemaRegistry(
    behavior: SchemaChangeBehavior = SchemaChangeBehavior.Lenient,
    includeKinds: Option[Set[String]] = None,
    excludeKinds: Set[String] = Set.empty) {

  // in creation order, which snapshots keep
  private val original = mutable.LinkedHashMap.empty[TableId, TableInfo]
  private val evolved = mutable.LinkedHashMap.empty[TableId, TableInfo]
  // versioned store (SchemaManager keeps a sorted version map per table;
  // SchemaManager.java:56): every applied change appends a version, and
  // only the newest VERSIONS_TO_KEEP survive (SchemaManager.java:58,
  // cleanup at :232 — pinned by SchemaManagerTest.testVersionCleanup).
  // The cap bounds driver state under long DDL churn; absolute version
  // numbers keep counting, with first*Version tracking the oldest
  // retained one per table.
  private val VersionsToKeep = 3
  private val originalHistory = mutable.Map.empty[TableId, Vector[TableInfo]]
  private val evolvedHistory = mutable.Map.empty[TableId, Vector[TableInfo]]
  private val firstOriginalVersion = mutable.Map.empty[TableId, Int]
  private val firstEvolvedVersion = mutable.Map.empty[TableId, Int]

  private def appendVersion(hist: mutable.Map[TableId, Vector[TableInfo]],
      first: mutable.Map[TableId, Int], t: TableId, info: TableInfo): Unit = {
    val v = hist.getOrElse(t, Vector.empty) :+ info
    if (v.size > VersionsToKeep) {
      first(t) = first.getOrElse(t, 0) + (v.size - VersionsToKeep)
      hist(t) = v.drop(v.size - VersionsToKeep)
    } else hist(t) = v
  }

  def originalInfo(t: TableId): Option[TableInfo] = original.get(t)
  def evolvedInfo(t: TableId): Option[TableInfo] = evolved.get(t)
  /** The tracked tables, in creation order. */
  def tables: Seq[TableId] = original.keys.toSeq

  /** The RETAINED evolved-plane versions of a table, oldest first (at
    * most the newest [[VersionsToKeep]]; absolute numbering starts at
    * [[firstEvolvedVersionOf]]).
    */
  def evolvedVersions(t: TableId): Seq[TableInfo] =
    evolvedHistory.getOrElse(t, Vector.empty)

  /** The RETAINED original-plane versions of a table, oldest first. */
  def originalVersions(t: TableId): Seq[TableInfo] =
    originalHistory.getOrElse(t, Vector.empty)

  /** Absolute version number of the oldest retained evolved version. */
  def firstEvolvedVersionOf(t: TableId): Int = firstEvolvedVersion.getOrElse(t, 0)

  /** Absolute version number of the oldest retained original version. */
  def firstOriginalVersionOf(t: TableId): Int = firstOriginalVersion.getOrElse(t, 0)

  /** The evolved schema at an ABSOLUTE historical version (0-based from
    * table creation). None when out of range OR cleaned up — the
    * reference throws "Schema version %s does not exist" for both.
    */
  def evolvedInfoAt(t: TableId, version: Int): Option[TableInfo] = {
    val idx = version - firstEvolvedVersionOf(t)
    if (idx < 0) None else evolvedVersions(t).lift(idx)
  }

  private def allowed(e: SchemaChangeEvent): Boolean = e match {
    // create is foundational — filtered only when an EXPLICIT include set
    // resolved without it (the user excluded create.table, FLINK-37837)
    case _: CreateTableEvent => includeKinds.forall(_.contains("create.table"))
    case _ =>
      includeKinds.forall(_.contains(e.kind)) && !excludeKinds.contains(e.kind)
  }

  /** Apply one upstream schema change. Returns the events the sink's
    * MetadataApplier should see (possibly rewritten per behavior), or Nil
    * if absorbed. Always tracks the original schema faithfully so data can
    * be interpreted, regardless of what the sink sees.
    */
  def apply(e: SchemaChangeEvent): Seq[SchemaChangeEvent] = {
    // original plane always evolves
    e match {
      case CreateTableEvent(t, info) =>
        original(t) = info
        appendVersion(originalHistory, firstOriginalVersion, t, info)
      case DropTableEvent(t) =>
        original.remove(t); originalHistory.remove(t)
        firstOriginalVersion.remove(t)
      case other => original.get(other.tableId).foreach { i =>
        val next = i.applySchemaChange(other)
        original(other.tableId) = next
        appendVersion(originalHistory, firstOriginalVersion, other.tableId, next)
      }
    }

    if (!allowed(e)) return Nil

    behavior match {
      case SchemaChangeBehavior.Ignore =>
        e match {
          case c: CreateTableEvent => evolveWith(c)
          case _ => Nil
        }
      case SchemaChangeBehavior.Exception =>
        e match {
          case c: CreateTableEvent => evolveWith(c)
          case other => throw new IllegalStateException(
            // the reference SchemaEvolveException's exceptionMessage, pinned
            // by FlinkParallelizedPipelineITCase's EXCEPTION-behavior cases
            "Unexpected schema change events occurred in EXCEPTION mode. " +
              s"Job will fail now. (rejected: $other)")
        }
      case SchemaChangeBehavior.Evolve => evolveWith(e)
      case SchemaChangeBehavior.TryEvolve =>
        try evolveWith(e)
        catch { case _: Exception => Nil }
      case SchemaChangeBehavior.Lenient => lenient(e)
    }
  }

  /** Apply an upstream change and push the derived sink DDL through
    * `applier`, with the reference's failure contract
    * (SchemaRegistry.applySchemaChange + SchemaEvolveTest
    * .testTryEvolveSchemaWithFailure): under TRY_EVOLVE a rejected DDL is
    * swallowed and the EVOLVED plane rolls back to what the sink actually
    * holds — subsequent data coerces onto it (type-level narrowing nulls,
    * SchemaMerging.coercionColumns). Every other behavior propagates the
    * failure. The original plane keeps tracking upstream reality either
    * way.
    */
  def applyTo(e: SchemaChangeEvent)(applier: SchemaChangeEvent => Unit): Unit = {
    val t = e.tableId
    val savedEvolved = evolved.get(t)
    val savedHistory = evolvedHistory.get(t)
    val savedFirst = firstEvolvedVersion.get(t)
    val events = apply(e)
    try events.foreach(applier)
    catch {
      case ex: Exception if behavior == SchemaChangeBehavior.TryEvolve =>
        savedEvolved match {
          case Some(i) => evolved(t) = i
          case None => evolved.remove(t)
        }
        savedHistory match {
          case Some(h) => evolvedHistory(t) = h
          case None => evolvedHistory.remove(t)
        }
        savedFirst match {
          case Some(v) => firstEvolvedVersion(t) = v
          case None => firstEvolvedVersion.remove(t)
        }
        System.err.println(s"[graft] sink rejected $e under TRY_EVOLVE " +
          s"(${ex.getMessage}); keeping the previous sink schema")
    }
  }

  /** Serialize both schema planes for checkpoint persistence — the
    * reference checkpoints SchemaManager's originalSchemas/evolvedSchemas
    * (SchemaManager.java:56, restored in initializeState); here the state
    * is a small YAML document (schemas as Spark's StructType JSON) the
    * streaming wrapper stores next to the offsets checkpoint.
    */
  def snapshotState: String = {
    import scala.jdk.CollectionConverters._
    def infoMap(i: TableInfo): java.util.Map[String, Object] = Map[String, Object](
      "schema" -> i.schema.json,
      "primaryKeys" -> i.primaryKeys.asJava,
      "partitionKeys" -> i.partitionKeys.asJava,
      "options" -> i.options.asJava,
      "comment" -> i.comment.orNull).asJava
    val tables = original.keys.toSeq.map { t =>
      Map[String, Object](
        "id" -> t.identifier,
        "original" -> infoMap(original(t)),
        "evolved" -> evolved.get(t).map(infoMap).orNull,
        "originalVersions" -> originalHistory.getOrElse(t, Vector.empty)
          .map(infoMap).asJava,
        "evolvedVersions" -> evolvedHistory.getOrElse(t, Vector.empty)
          .map(infoMap).asJava,
        // absolute number of the oldest retained version per plane (the
        // VERSIONS_TO_KEEP cleanup offset); absent in pre-cap checkpoints
        "firstOriginalVersion" ->
          Integer.valueOf(firstOriginalVersion.getOrElse(t, 0)),
        "firstEvolvedVersion" ->
          Integer.valueOf(firstEvolvedVersion.getOrElse(t, 0))).asJava
    }.asJava
    new org.yaml.snakeyaml.Yaml().dump(
      Map[String, Object]("tables" -> tables).asJava)
  }

  /** Restore state written by [[snapshotState]], replacing current planes. */
  def restoreState(state: String): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{DataType, StructType}
    def infoOf(m: java.util.Map[String, Object]): TableInfo = TableInfo(
      DataType.fromJson(m.get("schema").toString).asInstanceOf[StructType],
      Option(m.get("primaryKeys"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq).getOrElse(Nil),
      Option(m.get("partitionKeys"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq).getOrElse(Nil),
      Option(m.get("options"))
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap).getOrElse(Map.empty),
      Option(m.get("comment")).map(_.toString))
    original.clear(); evolved.clear()
    originalHistory.clear(); evolvedHistory.clear()
    firstOriginalVersion.clear(); firstEvolvedVersion.clear()
    val root = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](state)
    def versions(tm: java.util.Map[String, Object], key: String): Vector[TableInfo] =
      Option(tm.get(key)).map(_.asInstanceOf[java.util.List[java.util.Map[String, Object]]]
        .asScala.map(infoOf).toVector).getOrElse(Vector.empty)
    Option(root.get("tables")).foreach { ts =>
      ts.asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala.foreach { tm =>
        val tid = TableId.parse(tm.get("id").toString)
        original(tid) = infoOf(tm.get("original").asInstanceOf[java.util.Map[String, Object]])
        Option(tm.get("evolved")).foreach(e =>
          evolved(tid) = infoOf(e.asInstanceOf[java.util.Map[String, Object]]))
        originalHistory(tid) = versions(tm, "originalVersions")
        evolvedHistory(tid) = versions(tm, "evolvedVersions")
        Option(tm.get("firstOriginalVersion")).foreach(v =>
          firstOriginalVersion(tid) = v.toString.toInt)
        Option(tm.get("firstEvolvedVersion")).foreach(v =>
          firstEvolvedVersion(tid) = v.toString.toInt)
      }
    }
  }

  private def evolveWith(e: SchemaChangeEvent): Seq[SchemaChangeEvent] = {
    e match {
      case CreateTableEvent(t, info) =>
        evolved(t) = info
        appendVersion(evolvedHistory, firstEvolvedVersion, t, info)
      case DropTableEvent(t) =>
        evolved.remove(t); evolvedHistory.remove(t)
        firstEvolvedVersion.remove(t)
      case other => evolved.get(other.tableId).foreach { i =>
        val next = i.applySchemaChange(other)
        evolved(other.tableId) = next
        appendVersion(evolvedHistory, firstEvolvedVersion, other.tableId, next)
      }
    }
    Seq(e)
  }

  /** LENIENT semantics (schema-evolution.md:48-70 + SchemaDerivator's
    * lenient rewrites): sink columns are never dropped or renamed —
    *  - AddColumn passes through (nullable);
    *  - DropColumn is absorbed (the column keeps receiving nulls);
    *  - RenameColumn becomes AddColumn(new) (old column stays, nulls);
    *  - AlterColumnType widens via the merging lattice; incompatible
    *    narrowing is absorbed.
    */
  private def lenient(e: SchemaChangeEvent): Seq[SchemaChangeEvent] = e match {
    case _: CreateTableEvent | _: TruncateTableEvent | _: AlterTableCommentEvent |
        _: DropTableEvent => evolveWith(e)
    case AddColumnEvent(t, cols) =>
      val existing = evolved.get(t).map(_.fieldNames.toSet).getOrElse(Set.empty)
      val fresh = cols.collect {
        case (f, _) if !existing(f.name) =>
          // always append: positions relative to dropped/renamed columns
          // may not exist sink-side
          (f.copy(nullable = true), ColumnPosition.Last: ColumnPosition)
      }
      if (fresh.isEmpty) Nil else evolveWith(AddColumnEvent(t, fresh))
    case DropColumnEvent(t, cols) =>
      // the column stays sink-side but RELAXES to nullable — upstream
      // stops sending values for it, so rows null-fill from here on
      // (SchemaEvolveTest.testLenientEvolveTweaks: dropping the NOT NULL
      // `name` leaves `name STRING` nullable in the evolved schema)
      evolved.get(t).foreach { i =>
        val dropped = cols.toSet
        val relaxed = i.schema.fields.map(f =>
          if (dropped(f.name) && !f.nullable) f.copy(nullable = true) else f)
        evolved(t) = i.copy(schema =
          org.apache.spark.sql.types.StructType(relaxed))
      }
      Nil
    case RenameColumnEvent(t, mapping) =>
      val info = evolved.get(t)
      val existing = info.map(_.fieldNames.toSet).getOrElse(Set.empty)
      val adds = mapping.toSeq.collect {
        case (oldName, newName) if !existing(newName) =>
          val field = info.flatMap(_.field(oldName))
            .getOrElse(org.apache.spark.sql.types.StructField(
              newName, org.apache.spark.sql.types.StringType))
          (field.copy(name = newName, nullable = true), ColumnPosition.Last: ColumnPosition)
      }
      if (adds.isEmpty) Nil else evolveWith(AddColumnEvent(t, adds))
    case AlterColumnTypeEvent(t, mapping) =>
      val info = evolved.get(t)
      val widened = mapping.flatMap { case (name, newType) =>
        info.flatMap(_.field(name)) match {
          case Some(f) =>
            val merged = SchemaMerging.leastCommonType(f.dataType, newType)
            if (merged == f.dataType) None else Some(name -> merged)
          case None => None
        }
      }
      if (widened.isEmpty) Nil else evolveWith(AlterColumnTypeEvent(t, widened))
  }
}
