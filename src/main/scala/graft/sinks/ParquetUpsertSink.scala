package graft.sinks

import graft.cdc.Changelog
import graft.model.{DropTableEvent, SchemaChangeEvent, TableId, TableInfo, TruncateTableEvent}
import graft.schema.{SchemaMerging, SchemaRegistry}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** Parquet-table MERGE sink: maintains one hash-bucketed parquet directory
  * per table (`bucket=N/part-*.parquet`) and applies each changelog batch
  * as an upsert keyed on the primary key.
  *
  * This is the plain-Spark analogue of the reference's lakehouse sinks
  * (paimon/iceberg/hudi pipeline connectors), with both table-format write
  * profiles:
  *
  *  - '''copy-on-write''' (default): a batch resolves which hash buckets
  *    its keys touch, reads ONLY those buckets of current state
  *    (directory-level partition pruning), merges last-wins per PK, and
  *    swaps only those bucket directories. Rewrite work scales with the
  *    touched fraction, not table size. Best for read-heavy tables. Each
  *    write also pays a fixed set of Spark jobs (write-ahead, merge,
  *    stage) whatever its size, so [[graft.pipeline.PipelineRunner]]
  *    calls it once per sink table per schema epoch: a micro-batch's
  *    routed writes are held and merged until the next schema change or
  *    the end of the batch. An untouched bucket keeps the schema of the
  *    write that last rewrote it; reads coerce every bucket onto the
  *    current schema.
  *  - '''merge-on-read''' (`mergeOnRead = true`): a batch APPENDS its
  *    changelog rows as a delta file set — no read, no merge, no window;
  *    the cheapest possible ingest (the Paimon-LSM / Hudi-MOR profile).
  *    [[read]] merges base ∪ deltas last-wins on the fly; [[compact]]
  *    folds the deltas into the bucketed base via the same COW merge.
  *    A read's Spark jobs do not grow with the pending deltas: one
  *    driver-side footer read per delta set, then one scan per distinct
  *    delta schema and the merge.
  *
  * The bucket count and primary keys are pinned in a marker file at table
  * creation so key→bucket assignment and read-time merging stay stable
  * across batches and processes.
  *
  * @param autoCompactDeltas merge-on-read only: fold pending deltas into
  *   the bucketed base once this many delta sets accumulate (0 = manual
  *   [[ParquetUpsertSink.compact]] calls only). MorBench's r15 curve
  *   (24 × 20k-row upsert batches, read after every batch): ingest wall
  *   50.6/26.5/24.1/13.2/7.2 s and mean read 0.21/0.88/1.84/3.01/4.61 s
  *   at cadence 1/4/8/16/never — for that balanced read-per-batch
  *   workload, cadence 4 minimizes total wall (between 4 and 8 the
  *   ingest saving flattens while read amplification doubles), so 4 is
  *   the recommended setting for mixed workloads; keep 0/manual for
  *   write-only ingest with a terminal compaction (the Bench stream
  *   profile), and 1 for read-dominated tables.
  * @param autoCompactReadAmp merge-on-read only: compact when the
  *   MEASURED read amplification — pending delta rows ÷ base rows —
  *   reaches this ratio (0 = disabled). Unlike a fixed delta-count
  *   cadence, the trigger tracks what a read actually pays: compaction
  *   cost grows with the base, the read-side merge penalty grows with
  *   pending rows, and their ratio is the exchange rate between the two
  *   — so one threshold lands near the total-wall optimum across
  *   read/write mixes where any fixed count is tuned to exactly one mix
  *   (MorBench's r16 two-mix curve). Row counts come from parquet
  *   footers, driver-side: the base count caches until the next
  *   compaction and the pending count accumulates incrementally, so the
  *   steady-state probe cost is one footer read of the just-written
  *   delta set per batch. A cadence and a ratio may be combined; either
  *   trigger compacts.
  */
final class ParquetUpsertSink(spark: SparkSession, baseDir: String,
    registry: Option[SchemaRegistry] = None, numBuckets: Int = 16,
    mergeOnRead: Boolean = false, autoCompactDeltas: Int = 0,
    autoCompactReadAmp: Double = 0.0) extends DataSink {

  private val BucketCol = "__bucket"
  private val SwapMarker = "_SWAP"

  /** Test-only failpoints for the crash-replay specs: throw just before
    * the `_SWAP` commit marker (staging complete, merge uncommitted), or
    * after moving N staged bucket dirs (mid-swap kill). -1/false =
    * disabled; production code never sets them.
    */
  private[sinks] var failBeforeCommit: Boolean = false
  private[sinks] var failAfterSwappedBuckets: Int = -1

  private def path(t: TableId) = s"$baseDir/${t.parts.mkString("/")}"
  private def deltaRoot(p: String) = new java.io.File(p + "__delta")
  private def stagingDir(p: String) = new java.io.File(p + "__staging")

  override def applySchemaChange(e: SchemaChangeEvent): Unit = {
    // TRUNCATE/DROP reach the storage layer (the reference's sinks clear
    // data, not just metadata): truncate deletes bucket + delta files but
    // keeps the table marker; drop removes the table entirely.
    e match {
      case TruncateTableEvent(t) =>
        deleteRecursively(new java.io.File(path(t)))
        deleteRecursively(deltaRoot(path(t)))
        // a committed-but-unapplied _SWAP from before the truncate would
        // otherwise be replayed by recover() and resurrect deleted rows
        deleteRecursively(stagingDir(path(t)))
        pendingRowsCache -= path(t); baseRowsCache -= path(t)
      case DropTableEvent(t) =>
        deleteRecursively(new java.io.File(path(t)))
        deleteRecursively(deltaRoot(path(t)))
        deleteRecursively(stagingDir(path(t)))
        metaFile(path(t)).delete()
        pendingRowsCache -= path(t); baseRowsCache -= path(t)
      case _ => ()
    }
    registry.foreach(_.apply(e))
  }

  // ---- table metadata marker (bucket count + primary keys) ----

  private def metaFile(p: String) = new java.io.File(p + "_meta")

  private def readMeta(p: String): Option[Map[String, String]] = {
    val f = metaFile(p)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .linesIterator.flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
      }.toMap)
  }

  private def resolveBuckets(p: String): Int =
    readMeta(p).flatMap(_.get("buckets")).map(_.toInt).getOrElse(numBuckets)

  private def stampMeta(p: String, n: Int, pks: Seq[String]): Unit = {
    val f = metaFile(p)
    if (!f.exists()) {
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.write(f.toPath,
        s"buckets=$n\npks=${pks.mkString(",")}\n".getBytes("UTF-8"))
      ()
    }
  }

  // ---- write ----

  override def write(tableId: TableId, exploded: DataFrame, info: TableInfo): Unit = {
    require(info.primaryKeys.nonEmpty, s"$tableId needs a primary key for upsert")
    val p = path(tableId)
    val payload = info.schema.fieldNames.toSeq
    val batch = exploded.select(
      (payload.map(col) :+ col(Changelog.OpCol) :+ col(Changelog.SeqCol)): _*)
    if (mergeOnRead) {
      // crash leftovers first: a delta dir without _SUCCESS is an
      // uncommitted write whose micro-batch WILL replay (the checkpoint
      // never committed) — drop it so the replay starts clean and the
      // next name never collides with a half-written dir
      val root = deltaRoot(p)
      root.mkdirs()
      Option(root.listFiles()).toSeq.flatten
        .filter(d => d.getName.startsWith("delta-") &&
          !new java.io.File(d, "_SUCCESS").isFile)
        .foreach(deleteRecursively)
      // append-only delta: no read, no merge — one pass over the pipeline
      val n = Option(root.listFiles()).toSeq.flatten.count(_.getName.startsWith("delta-"))
      val deltaDir = new java.io.File(root, f"delta-$n%05d")
      batch.write.mode(SaveMode.ErrorIfExists).parquet(deltaDir.getAbsolutePath)
      stampMeta(p, resolveBuckets(p), info.primaryKeys)
      if (autoCompactReadAmp > 0) {
        // incremental pending count: one footer read of the delta just
        // written (on a cache miss — first batch after a restart — the
        // full recompute below includes it)
        pendingRowsCache.get(p) match {
          case Some(c) => pendingRowsCache(p) = c + footerRowCount(deltaDir)
          case None =>
            pendingRowsCache(p) = deltaDirs(p).map(footerRowCount).sum
        }
      }
      if (autoCompactDeltas > 0 && n + 1 >= autoCompactDeltas)
        compact(tableId, info)
      else if (autoCompactReadAmp > 0 && readAmplification(p) >= autoCompactReadAmp)
        compact(tableId, info)
    } else {
      cowApply(p, batch, info, writeAhead = true)
      stampMeta(p, resolveBuckets(p), info.primaryKeys)
    }
  }

  /** Fold all pending deltas of a merge-on-read table into the bucketed
    * base (the LSM compaction step) via the same pruned COW merge, then
    * drop the deltas. No-op when none are pending.
    */
  def compact(tableId: TableId, info: TableInfo): Unit = {
    val p = path(tableId)
    val dirs = deltaDirs(p)
    if (dirs.isEmpty) return
    // coerce the deltas onto the table's CURRENT schema (the compaction
    // target) — a column the registry added but no delta carried still
    // null-fills
    val target = StructType(info.schema.fields.toSeq :+
      StructField(Changelog.OpCol, StringType) :+ StructField(Changelog.SeqCol, LongType))
    // deltas are already on disk: the touched-set probe re-reads cheap
    // parquet, not the upstream pipeline — skip the write-ahead
    readDeltas(dirs, Some(target)).foreach(cowApply(p, _, info, writeAhead = false))
    dirs.foreach(deleteRecursively)
    pendingRowsCache(p) = 0L
    baseRowsCache -= p
  }

  // ---- measured read amplification (the autoCompactReadAmp trigger) ----

  /** Pending delta rows ÷ base rows, from the driver-side caches (class
    * scaladoc). An empty base reads as 1 row so the ratio stays finite —
    * the first deltas then trip any threshold immediately, which is the
    * right call: compacting a tiny base is nearly free and bootstraps
    * the denominator.
    */
  private def readAmplification(p: String): Double = {
    val pending = pendingRowsCache.getOrElse(p, 0L)
    val base = baseRowsCache.getOrElseUpdate(p, footerRowCount(new java.io.File(p)))
    pending.toDouble / math.max(base, 1L)
  }

  private val pendingRowsCache = scala.collection.mutable.Map[String, Long]()
  private val baseRowsCache = scala.collection.mutable.Map[String, Long]()

  /** Sum of parquet-footer record counts under `f` (recursive), read
    * driver-side — no Spark job, no data pages; one footer per file.
    */
  private def footerRowCount(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(footerRowCount).sum
    else if (f.getName.endsWith(".parquet")) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    } else 0L

  /** Pending COMMITTED delta sets: a dir without its _SUCCESS marker is a
    * crashed write whose batch replays via the checkpoint — readers and
    * compaction must not see its partial rows.
    */
  private def deltaDirs(p: String): Seq[java.io.File] =
    Option(deltaRoot(p).listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("delta-") &&
        new java.io.File(d, "_SUCCESS").isFile)
      .sortBy(_.getName)

  /** Pending delta rows coerced onto `target` (default: the least-common
    * schema of the deltas read), so deltas written before a schema change
    * null-fill the columns added since and widen to the later types. Each
    * delta dir holds the output of one write: the dirs group by their
    * footer schema ([[schemaGroups]]: one footer read per delta dir,
    * driver-side), and each group is read with one scan given that schema
    * (no inference job), then coerced — one scan per distinct schema,
    * whatever the number of deltas. Up to Spark's parallel partition
    * discovery threshold (32 paths) a scan lists its files on the driver;
    * beyond it, with one listing job. None when no delta holds a parquet
    * file.
    */
  private def readDeltas(dirs: Seq[java.io.File],
      target: Option[StructType]): Option[DataFrame] = {
    val groups = schemaGroups(dirs)(identity)
    lazy val to = target.getOrElse(SchemaMerging.leastCommonSchema(groups.map(_._1)))
    groups.map { case (schema, ds) =>
      SchemaMerging.coerce(spark.read.schema(schema).parquet(ds.map(_.getAbsolutePath): _*), to)
    }.reduceOption(_ unionByName _)
  }

  /** Bucket-granular copy-on-write merge of one changelog batch. */
  private def cowApply(p: String, rawBatch: DataFrame, info: TableInfo,
      writeAhead: Boolean): Unit = {
    // crash recovery FIRST: current state must reflect any committed but
    // interrupted swap before this merge reads it (and an uncommitted
    // staging leftover must not shadow this batch's own staging)
    recover(p)
    val target = info.schema
    val buckets = resolveBuckets(p)
    def bucketOf(df: DataFrame): DataFrame =
      df.withColumn(BucketCol, pmod(hash(info.primaryKeys.map(col): _*), lit(buckets)))
    val batch = bucketOf(rawBatch)

    val exists = Option(new java.io.File(p).listFiles())
      .exists(_.exists(_.getName.startsWith(s"$BucketCol=")))

    if (!exists) {
      // bootstrap: everything is new — materialize the batch straight off
      // the upstream pipeline in ONE pass and write partitionBy directly
      // (no bucket repartition: the extra shuffle isn't worth one-file-
      // per-bucket here — later rewrites re-compact each touched bucket
      // to a single file). The staged dirs define the bucket set to move
      // in (no deletions possible).
      val merged = Changelog.materialize(batch, info.primaryKeys)
      val tmp = stagingDir(p).getAbsolutePath
      merged.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmp)
      commitSwap(p, listBuckets(tmp), removeMissing = Nil)
    } else {
      // Steady state. The touched-bucket set must be known BEFORE reading
      // current state, but computing it with a distinct() job would re-run
      // the whole upstream decode — so write-ahead the batch itself,
      // bucketed; the staged directory names ARE the touched set, read off
      // the driver with no extra job. (Compaction input is already
      // parquet, so it probes with a cheap distinct instead.)
      val (staged, touched, tmpBatch) =
        if (writeAhead) {
          val tmp = p + "__batch"
          batch.repartition(col(BucketCol))
            .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmp)
          (spark.read.parquet(tmp), listBuckets(tmp), Some(tmp))
        } else {
          val t = batch.select(col(BucketCol)).distinct().collect().map(_.getInt(0)).toSeq
          (batch, t, None)
        }
      if (touched.isEmpty) { tmpBatch.foreach(t => deleteRecursively(new java.io.File(t))); return }

      // read ONLY the touched buckets — partition pruning keeps untouched
      // directories off the scan entirely; existing rows rank below every
      // batch change (seq -1)
      val curCl = bucketOf(readBase(p, touched, Some(target)))
        .withColumn(Changelog.OpCol, lit("+I"))
        .withColumn(Changelog.SeqCol, lit(-1L))
      val merged = Changelog.materialize(curCl.unionByName(staged), info.primaryKeys)
      val written = stage(p, merged)
      // a touched bucket absent from staging lost all its rows: remove it
      commitSwap(p, written, removeMissing = touched.filterNot(written.contains))
      tmpBatch.foreach(t => deleteRecursively(new java.io.File(t)))
    }
  }

  /** Current rows of the given base buckets, coerced onto `target`
    * (default: the least-common schema of the buckets read). A merge
    * rewrites only the buckets it touches, so after a widening — an INT
    * shard and a BIGINT shard routed into one table — bucket files of
    * different schemas sit side by side, and a plain read of the table
    * (one file's schema) would fail on the others. Buckets group by their
    * footer schema ([[schemaGroups]]), each group is read with its own
    * schema (no inference job) pruned to its buckets, then coerced — one
    * scan per distinct schema.
    */
  private def readBase(p: String, buckets: Seq[Int],
      target: Option[StructType] = None): DataFrame = {
    val groups = schemaGroups(buckets.sorted)(b => new java.io.File(p, s"$BucketCol=$b"))
    lazy val to = target.getOrElse(SchemaMerging.leastCommonSchema(groups.map(_._1)))
    groups.map { case (schema, bs) =>
      val group = spark.read.schema(schema.add(BucketCol, IntegerType)).parquet(p)
        .where(col(BucketCol).isin(bs.map(Integer.valueOf): _*))
        .drop(BucketCol)
      SchemaMerging.coerce(group, to)
    }.reduceOption(_ unionByName _)
      // every requested bucket is new to the base
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], to))
  }

  /** `keys` grouped by the Spark schema stamped in the parquet footers of
    * their directories (`dirOf`), groups in first-key order. Every bucket
    * or delta directory holds the output of one write, so one footer per
    * directory, read driver-side with no Spark job, stands for all its
    * files. A directory holding no parquet file joins no group.
    */
  private def schemaGroups[K](keys: Seq[K])(dirOf: K => java.io.File): Seq[(StructType, Seq[K])] = {
    val conf = spark.sessionState.newHadoopConf()
    val stamped = keys.flatMap(k => footerSchema(dirOf(k), conf).map(_ -> k))
    stamped.map(_._1).distinct.map(s => s -> stamped.collect { case (`s`, k) => k })
  }

  /** The Spark schema a directory's write stamped into its parquet footer
    * (None for a directory holding no parquet file).
    */
  private def footerSchema(dir: java.io.File,
      conf: org.apache.hadoop.conf.Configuration): Option[StructType] =
    Option(dir.listFiles()).toSeq.flatten.find(_.getName.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try DataType.fromJson(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
      finally r.close()
    }

  private def listBuckets(dir: String): Seq[Int] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"$BucketCol="))
      .map(_.getName.stripPrefix(s"$BucketCol=").toInt)

  /** Write `merged` into the staging dir, one file per bucket (repartition
    * on the bucket key first — partitionBy straight off the merge shuffle
    * would spray a file per task per bucket, thousands of tiny footers for
    * later reads to list). Returns the bucket ids actually written.
    */
  private def stage(p: String, merged: DataFrame): Seq[Int] = {
    val tmp = stagingDir(p).getAbsolutePath
    merged.repartition(col(BucketCol))
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmp)
    listBuckets(tmp)
  }

  /** Commit the staged merge, then swap it in. The `_SWAP` marker (bucket
    * lists, written atomically AFTER staging completes) is the commit
    * point of the whole merge: a kill BEFORE it leaves the base untouched
    * (the uncommitted staging is discarded by [[recover]] and the batch
    * replays), a kill AFTER it leaves a complete staged truth that
    * [[recover]] finishes swapping idempotently. The pre-r16 swap renamed
    * live bucket dirs aside with no journal — a kill between the rename
    * and the staged move LOST the bucket on replay.
    */
  private def commitSwap(p: String, written: Seq[Int], removeMissing: Seq[Int]): Unit = {
    if (failBeforeCommit) throw new RuntimeException("failpoint: before _SWAP commit")
    val marker = new java.io.File(stagingDir(p), SwapMarker)
    val tmpM = new java.io.File(stagingDir(p), SwapMarker + ".tmp")
    java.nio.file.Files.write(tmpM.toPath,
      s"written=${written.mkString(",")}\nremove=${removeMissing.mkString(",")}\n"
        .getBytes("UTF-8"))
    java.nio.file.Files.move(tmpM.toPath, marker.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    doSwap(p, written, removeMissing)
  }

  /** The idempotent swap body: every staged bucket still present moves in
    * (delete-then-rename; a bucket whose staged dir is gone was already
    * moved by a previous attempt and keeps its dst), `removeMissing`
    * buckets delete, the staging dir (marker included) goes last. Safe to
    * re-run from any interruption point.
    */
  private def doSwap(p: String, written: Seq[Int], removeMissing: Seq[Int]): Unit = {
    val tmp = stagingDir(p)
    new java.io.File(p).mkdirs()
    var moved = 0
    written.foreach { b =>
      val src = new java.io.File(tmp, s"$BucketCol=$b")
      val dst = new java.io.File(p, s"$BucketCol=$b")
      if (src.exists()) {
        if (failAfterSwappedBuckets >= 0 && moved >= failAfterSwappedBuckets)
          throw new RuntimeException(s"failpoint: mid-swap after $moved buckets")
        deleteRecursively(dst)
        require(src.renameTo(dst), s"could not move staged bucket $src -> $dst")
        moved += 1
      }
    }
    removeMissing.foreach(b => deleteRecursively(new java.io.File(p, s"$BucketCol=$b")))
    deleteRecursively(tmp)
  }

  /** Crash recovery for the COW commit protocol: a staging dir carrying
    * the `_SWAP` marker is a COMMITTED merge — finish its swap; one
    * without the marker is an uncommitted leftover — discard it (its
    * micro-batch replays through the checkpoint). Runs at the head of
    * every write-path entry ([[cowApply]]); [[read]] completes committed
    * swaps too (read-your-writes after a crash) but leaves uncommitted
    * staging for the writer to reclaim.
    */
  private def recover(p: String, discardUncommitted: Boolean = true): Unit = {
    val tmp = stagingDir(p)
    if (!tmp.exists()) return
    val marker = new java.io.File(tmp, SwapMarker)
    if (marker.isFile) {
      val kv = new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
        .linesIterator.flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> v); case _ => None
        }).toMap
      def ints(k: String): Seq[Int] =
        kv.getOrElse(k, "").split(",").filter(_.nonEmpty).map(_.toInt).toSeq
      doSwap(p, ints("written"), ints("remove"))
    } else if (discardUncommitted) deleteRecursively(tmp)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Current table state. COW tables read the base directly; MOR tables
    * with pending deltas merge base ∪ deltas last-wins on the fly (the
    * "read" half of merge-on-read), keyed by the marker-pinned PKs.
    */
  def read(tableId: TableId): DataFrame = {
    val p = path(tableId)
    // a committed-but-interrupted swap must surface to readers (the
    // marker is the commit point); an uncommitted staging is left for
    // the writer to discard
    recover(p, discardUncommitted = false)
    val baseExists = Option(new java.io.File(p).listFiles())
      .exists(_.exists(_.getName.startsWith(s"$BucketCol=")))
    readDeltas(deltaDirs(p), target = None) match {
      case None if !baseExists =>
        // truncated (or never-written) table: empty frame with the
        // registry's schema, so downstream reads keep working
        val schema = registry.flatMap(_.evolvedInfo(tableId)).map(_.schema)
          .getOrElse(throw new IllegalStateException(
            s"$tableId has no data and no registered schema"))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case None => readBase(p, listBuckets(p))
      case Some(deltas) =>
        val pks = readMeta(p).flatMap(_.get("pks"))
          .map(_.split(",").filter(_.nonEmpty).toSeq)
          .getOrElse(throw new IllegalStateException(s"no pk marker for $tableId"))
        val all =
          if (!baseExists) deltas
          else {
            val base = readBase(p, listBuckets(p))
              .withColumn(Changelog.OpCol, lit("+I"))
              .withColumn(Changelog.SeqCol, lit(-1L))
            // base written before a schema change lacks added columns (and
            // vice versa after compaction) — widen both sides
            val target = SchemaMerging.leastCommonSchema(Seq(base.schema, deltas.schema))
            SchemaMerging.coerce(base, target)
              .unionByName(SchemaMerging.coerce(deltas, target))
          }
        Changelog.materialize(all, pks)
    }
  }
}
