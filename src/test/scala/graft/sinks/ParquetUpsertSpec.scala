package graft.sinks

import graft.SparkSpec
import graft.cdc.Changelog
import graft.model.{TableId, TableInfo}
import graft.functions.{ScalarUdf1, UdfRegistry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ParquetUpsertSpec extends SparkSpec {
  import spark.implicits._

  test("parquet upsert sink merges batches keyed on PK") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath)
    val tid = TableId.parse("db.t")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))

    val batch1 = Seq(
      (1L, "a", "+I", 1L), (2L, "b", "+I", 2L)
    ).toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, batch1, info)
    assert(sink.read(tid).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b")))

    val batch2 = Seq(
      (1L, "a2", "+U", 3L), // update
      (2L, "b", "-D", 4L),  // delete
      (3L, "c", "+R", 5L)   // upsert-insert
    ).toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, batch2, info)
    assert(sink.read(tid).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a2"), (3L, "c")))
  }

  test("a bucket count below 1 is rejected at construction, before any marker is written") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_buckets").toFile
    for (n <- Seq(0, -3)) {
      val ex = intercept[IllegalArgumentException](new ParquetUpsertSink(
        spark, dir.getAbsolutePath, numBuckets = n, mergeOnRead = true))
      assert(ex.getMessage.contains(s"numBuckets must be at least 1: $n"))
    }
    assert(dir.list().isEmpty)
    // one bucket is a valid (unbucketed) layout
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, numBuckets = 1,
      mergeOnRead = true)
    val tid = TableId.parse("db.t")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    sink.write(tid, Seq((1L, "a", "+I", 1L), (2L, "b", "+I", 2L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    sink.compact(tid, info)
    assert(sink.read(tid).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("replayed batch is idempotent (at-least-once delivery, exactly-once state)") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_replay").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath)
    val tid = TableId.parse("db.r")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val batch = Seq(
      (1L, "a", "+I", 1L), (2L, "b", "+I", 2L), (1L, "a2", "+U", 3L)
    ).toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, batch, info)
    val first = sink.read(tid).orderBy("id").collect().map(_.toSeq).toSeq
    // a checkpoint-recovery replay delivers the same batch again
    sink.write(tid, batch, info)
    val second = sink.read(tid).orderBy("id").collect().map(_.toSeq).toSeq
    assert(first === second)
    assert(first.map(r => (r(0), r(1))) === Seq((1L, "a2"), (2L, "b")))
  }

  test("COW crash-replay: kill before the _SWAP commit leaves the base untouched; replay converges") {
    // the micro-batch died AFTER staging the merged buckets but BEFORE
    // the commit marker: the base must read as if the batch never ran,
    // and the replay must land exactly the uninterrupted state
    val dir = java.nio.file.Files.createTempDirectory("pqsink_crash1").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, numBuckets = 4)
    val tid = TableId.parse("db.c1")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val batch1 = (1L to 20L).map(i => (i, s"v$i", "+I", i))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, batch1, info)
    val preCrash = sink.read(tid).collect().map(_.toSeq).toSet
    val batch2 = Seq((1L, "x1", "+U", 100L), (2L, "x2", "-D", 101L),
      (21L, "x21", "+I", 102L)).toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.failBeforeCommit = true
    intercept[RuntimeException] { sink.write(tid, batch2, info) }
    sink.failBeforeCommit = false
    // uncommitted staging: readers see the PRE-batch state
    assert(sink.read(tid).collect().map(_.toSeq).toSet === preCrash)
    // replay (checkpoint never committed -> the stream re-delivers)
    sink.write(tid, batch2, info)
    val replayed = sink.read(tid).collect().map(_.toSeq).toSet
    // reference: the same two batches on a fresh sink, no crash
    val refDir = java.nio.file.Files.createTempDirectory("pqsink_crash1r").toFile
    val ref = new ParquetUpsertSink(spark, refDir.getAbsolutePath, numBuckets = 4)
    ref.write(tid, batch1, info); ref.write(tid, batch2, info)
    assert(replayed === ref.read(tid).collect().map(_.toSeq).toSet)
  }

  test("COW crash-replay: kill MID-SWAP recovers from the journal; no bucket is lost") {
    // the kill lands between bucket renames — the pre-r16 swap (rename
    // the live dir aside, then move staging in, no journal) LOST the
    // bucket in this window; the _SWAP journal must complete the swap on
    // replay and converge to the uninterrupted state
    val dir = java.nio.file.Files.createTempDirectory("pqsink_crash2").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, numBuckets = 4)
    val tid = TableId.parse("db.c2")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val batch1 = (1L to 40L).map(i => (i, s"v$i", "+I", i))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, batch1, info)
    // touch every bucket, then die after moving exactly one of them
    val batch2 = (1L to 40L).map(i => (i, s"w$i", "+U", 100L + i))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.failAfterSwappedBuckets = 1
    intercept[RuntimeException] { sink.write(tid, batch2, info) }
    sink.failAfterSwappedBuckets = -1
    // the commit marker exists: even BEFORE any replay, a reader must
    // see the committed post-batch state (recovery completes the swap)
    val afterCrash = sink.read(tid).collect().map(_.toSeq).toSet
    val refDir = java.nio.file.Files.createTempDirectory("pqsink_crash2r").toFile
    val ref = new ParquetUpsertSink(spark, refDir.getAbsolutePath, numBuckets = 4)
    ref.write(tid, batch1, info); ref.write(tid, batch2, info)
    val expected = ref.read(tid).collect().map(_.toSeq).toSet
    assert(afterCrash === expected)
    assert(afterCrash.size === 40) // every bucket's rows survived
    // replay of the same batch converges (idempotent upsert)
    sink.write(tid, batch2, info)
    assert(sink.read(tid).collect().map(_.toSeq).toSet === expected)
  }

  test("MOR crash-replay: uncommitted deltas are invisible and reclaimed; duplicate deltas converge") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_crash3").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, numBuckets = 4,
      mergeOnRead = true)
    val tid = TableId.parse("db.c3")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val batch1 = Seq((1L, "a", "+I", 1L), (2L, "b", "+I", 2L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, batch1, info)
    val committed = sink.read(tid).collect().map(_.toSeq).toSet
    // simulate a mid-write kill: a delta dir with data files but NO
    // _SUCCESS (task commits landed, job commit did not)
    val root = new java.io.File(dir, "db/c3__delta")
    val partial = new java.io.File(root, "delta-00001")
    val committedDelta = new java.io.File(root, "delta-00000")
    org.apache.commons.io.FileUtils.copyDirectory(committedDelta, partial)
    assert(new java.io.File(partial, "_SUCCESS").delete())
    // readers must not see the partial delta (and must not crash on it)
    assert(sink.read(tid).collect().map(_.toSeq).toSet === committed)
    // the replayed batch reclaims the partial dir and lands once more —
    // duplicate rows with identical seqs materialize identically
    val batch2 = Seq((1L, "a2", "+U", 3L), (3L, "c", "+I", 4L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, batch2, info)
    sink.write(tid, batch2, info) // the replay: a second committed copy
    val refDir = java.nio.file.Files.createTempDirectory("pqsink_crash3r").toFile
    val ref = new ParquetUpsertSink(spark, refDir.getAbsolutePath, numBuckets = 4,
      mergeOnRead = true)
    ref.write(tid, batch1, info); ref.write(tid, batch2, info)
    val expected = ref.read(tid).collect().map(_.toSeq).toSet
    assert(sink.read(tid).collect().map(_.toSeq).toSet === expected)
    // compaction over the duplicated delta set converges to the same
    // materialized base as compacting the clean set
    sink.compact(tid, info); ref.compact(tid, info)
    assert(sink.read(tid).collect().map(_.toSeq).toSet === expected)
    assert(sink.read(tid).collect().map(_.toSeq).toSet ===
      ref.read(tid).collect().map(_.toSeq).toSet)
  }

  test("MOR crash-replay: compaction killed after the fold but before delta cleanup converges") {
    // compact = cowApply(deltas) then delete delta dirs; a kill between
    // the two leaves the folded base AND the deltas — re-reading and
    // re-compacting must not change the materialized state (the deltas
    // re-apply the same seqs the base already holds)
    val dir = java.nio.file.Files.createTempDirectory("pqsink_crash4").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, numBuckets = 4,
      mergeOnRead = true)
    val tid = TableId.parse("db.c4")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    sink.write(tid, Seq((1L, "a", "+I", 1L), (2L, "b", "+I", 2L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    sink.write(tid, Seq((1L, "a2", "+U", 3L), (2L, "b", "-D", 4L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    val before = sink.read(tid).collect().map(_.toSeq).toSet
    // fold into the base but keep the deltas (the crash window)
    val root = new java.io.File(dir, "db/c4__delta")
    val saved = java.nio.file.Files.createTempDirectory("pqsink_crash4s").toFile
    org.apache.commons.io.FileUtils.copyDirectory(root, saved)
    sink.compact(tid, info)
    org.apache.commons.io.FileUtils.copyDirectory(saved, root) // deltas resurface
    assert(sink.read(tid).collect().map(_.toSeq).toSet === before)
    sink.compact(tid, info) // the re-run compaction after recovery
    assert(sink.read(tid).collect().map(_.toSeq).toSet === before)
  }

  test("bucketed COW: untouched buckets are not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_bucket").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, numBuckets = 8)
    val tid = TableId.parse("db.b")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))

    val seed = (1L to 40L).map(i => (i, s"v$i", "+I", i))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, seed, info)
    val table = new java.io.File(dir, "db/b")
    val bucketDirs = table.listFiles().filter(_.getName.startsWith("__bucket="))
    assert(bucketDirs.length > 1, "expected multiple bucket directories")
    val mtimes = bucketDirs.map(d => d.getName -> d.lastModified()).toMap

    Thread.sleep(1100) // ensure mtime granularity can't mask a rewrite
    val update = Seq((1L, "v1x", "+U", 100L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, update, info)

    val after = table.listFiles().filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.lastModified()).toMap
    val rewritten = after.filter { case (n, t) => mtimes.get(n).exists(_ != t) }.keys.toSet
    assert(rewritten.size === 1, s"exactly one bucket should be rewritten, got $rewritten")
    // state is still correct
    val got = sink.read(tid).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 40)
    assert(got.head === ((1L, "v1x")))
  }

  test("merge-on-read: appends merge at read time, compact folds into base") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_mor").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath,
      numBuckets = 4, mergeOnRead = true)
    val tid = TableId.parse("db.m")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))

    def state() = sink.read(tid).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

    sink.write(tid, Seq((1L, "a", "+I", 1L), (2L, "b", "+I", 2L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    sink.write(tid, Seq((1L, "a2", "+U", 3L), (2L, "b", "-D", 4L), (3L, "c", "+I", 5L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)

    // no base yet: both deltas merge at read time
    val table = new java.io.File(dir, "db/m")
    assert(!table.exists() || table.listFiles().forall(!_.getName.startsWith("__bucket=")))
    assert(state() === Seq((1L, "a2"), (3L, "c")))

    // compaction folds deltas into the bucketed base and removes them
    sink.compact(tid, info)
    assert(new java.io.File(dir, "db/m__delta").listFiles() === null ||
      new java.io.File(dir, "db/m__delta").listFiles().isEmpty)
    assert(table.listFiles().exists(_.getName.startsWith("__bucket=")))
    assert(state() === Seq((1L, "a2"), (3L, "c")))

    // post-compaction deltas still merge against the base
    sink.write(tid, Seq((3L, "c", "-D", 6L), (4L, "d", "+I", 7L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    assert(state() === Seq((1L, "a2"), (4L, "d")))
    sink.compact(tid, info)
    assert(state() === Seq((1L, "a2"), (4L, "d")))
  }

  test("merge-on-read auto-compaction folds at the configured cadence") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_mor_auto").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath,
      numBuckets = 4, mergeOnRead = true, autoCompactDeltas = 2)
    val tid = TableId.parse("db.ac")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    def pendingDeltas() = Option(new java.io.File(dir, "db/ac__delta").listFiles())
      .map(_.count(_.getName.startsWith("delta-"))).getOrElse(0)
    def state() = sink.read(tid).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

    sink.write(tid, Seq((1L, "a", "+I", 1L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    assert(pendingDeltas() === 1) // below the cadence: stays a delta
    sink.write(tid, Seq((1L, "a2", "+U", 2L), (2L, "b", "+I", 3L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    // second delta reaches the cadence: both fold into the bucketed base
    assert(pendingDeltas() === 0)
    assert(new java.io.File(dir, "db/ac").listFiles()
      .exists(_.getName.startsWith("__bucket=")))
    assert(state() === Seq((1L, "a2"), (2L, "b")))
    // the cycle repeats against the existing base
    sink.write(tid, Seq((3L, "c", "+I", 4L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    assert(pendingDeltas() === 1)
    sink.write(tid, Seq((2L, "b", "-D", 5L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    assert(pendingDeltas() === 0)
    assert(state() === Seq((1L, "a2"), (3L, "c")))
  }

  test("merge-on-read adaptive compaction triggers on measured read amplification") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_mor_amp").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath,
      numBuckets = 4, mergeOnRead = true, autoCompactReadAmp = 1.0)
    val tid = TableId.parse("db.amp")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    def pendingDeltas() = Option(new java.io.File(dir, "db/amp__delta").listFiles())
      .map(_.count(_.getName.startsWith("delta-"))).getOrElse(0)
    def batch(rows: (Long, String)*) = rows.map { case (i, v) => (i, v, "+U", i) }
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)

    // empty base: the first delta's amplification is pending/1 — compacts
    // immediately and bootstraps the denominator
    sink.write(tid, batch(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), info)
    assert(pendingDeltas() === 0)
    // 2 pending rows over a 4-row base = 0.5 < 1.0: stays a delta
    sink.write(tid, batch(1L -> "a2", 2L -> "b2"), info)
    assert(pendingDeltas() === 1)
    // 4 pending rows over 4 = 1.0: compacts (incremental pending count)
    sink.write(tid, batch(3L -> "c2", 4L -> "d2"), info)
    assert(pendingDeltas() === 0)
    // below threshold again — the denominator did NOT shrink
    sink.write(tid, batch(1L -> "a3"), info)
    assert(pendingDeltas() === 1)
    // a FRESH sink (restart: caches empty) recomputes pending from disk:
    // 1 carried + 4 new = 5 over base 4 = 1.25 — compacts
    val sink2 = new ParquetUpsertSink(spark, dir.getAbsolutePath,
      numBuckets = 4, mergeOnRead = true, autoCompactReadAmp = 1.0)
    sink2.write(tid, batch(5L -> "e", 6L -> "f", 7L -> "g", 8L -> "h"), info)
    assert(pendingDeltas() === 0)
    assert(sink2.read(tid).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq(1L -> "a3", 2L -> "b2", 3L -> "c2", 4L -> "d2",
        5L -> "e", 6L -> "f", 7L -> "g", 8L -> "h"))
  }

  test("merge-on-read survives schema evolution between delta writes") {
    val dir = java.nio.file.Files.createTempDirectory("pqsink_mor_evo").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, mergeOnRead = true)
    val tid = TableId.parse("db.t")
    val info1 = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    sink.write(tid, Seq((1L, "a", "+I", 1L), (2L, "b", "+I", 2L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info1)

    // a column lands mid-stream: later deltas carry it, earlier ones don't
    val info2 = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType),
        StructField("age", IntegerType))),
      primaryKeys = Seq("id"))
    sink.write(tid, Seq((1L, "a2", 11, "+U", 3L), (3L, "c", 33, "+I", 4L))
      .toDF("id", "v", "age", Changelog.OpCol, Changelog.SeqCol), info2)

    // read-time merge must union-widen the heterogeneous deltas: old rows
    // null-fill the new column, updated rows carry it
    val merged = sink.read(tid).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(merged === Seq(
      (1L, "a2", Some(11)), (2L, "b", None), (3L, "c", Some(33))))

    // compaction folds the widened deltas into the base with the same shape
    sink.compact(tid, info2)
    val compacted = sink.read(tid).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(compacted === merged)
    // post-compact writes keep working on the evolved shape
    sink.write(tid, Seq((2L, "b2", 22, "+U", 5L))
      .toDF("id", "v", "age", Changelog.OpCol, Changelog.SeqCol), info2)
    val after = sink.read(tid).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(after === Seq(
      (1L, "a2", Some(11)), (2L, "b2", Some(22)), (3L, "c", Some(33))))
  }

  test("merge-on-read: planning a read runs no Spark job, whatever the pending deltas") {
    // the deltas group by footer schema and each group is one scan given
    // its schema, so building the read infers nothing: no job per delta
    val dir = java.nio.file.Files.createTempDirectory("pqsink_mor_jobs").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath,
      numBuckets = 4, mergeOnRead = true)
    val tid = TableId.parse("db.j")
    val narrow = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val wide = TableInfo(narrow.schema.add(StructField("n", IntegerType)),
      primaryKeys = Seq("id"))
    def narrowRows(rows: (Long, String, String, Long)*) =
      rows.toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    def wideRows(rows: (Long, String, Int, String, Long)*) =
      rows.toDF("id", "v", "n", Changelog.OpCol, Changelog.SeqCol)
    sink.write(tid, narrowRows((1L, "a", "+I", 1L), (2L, "b", "+I", 2L)), narrow)
    sink.compact(tid, narrow) // the base
    sink.write(tid, narrowRows((1L, "a1", "+U", 3L)), narrow)
    sink.write(tid, narrowRows((3L, "c", "+I", 4L)), narrow)
    sink.write(tid, wideRows((4L, "d", 40, "+I", 5L)), wide)
    sink.write(tid, narrowRows((2L, "b", "-D", 6L)), narrow)
    sink.write(tid, wideRows((1L, "a2", 10, "+U", 7L)), wide)
    // a crashed write: data files, no _SUCCESS — readers must skip it
    val partial = new java.io.File(dir, "db/j__delta/delta-00005")
    wideRows((5L, "e", 50, "+I", 8L)).write.parquet(partial.getAbsolutePath)
    assert(new java.io.File(partial, "_SUCCESS").delete())

    val sc = spark.sparkContext
    val group = "mor-read-plan"
    sc.setJobGroup(group, "build a merge-on-read read")
    val df = try sink.read(tid) finally sc.clearJobGroup()
    // the status tracker follows the listener bus, which delivers events
    // in order: once a later job is visible, any job the read ran is too
    val barrier = group + "-barrier"
    sc.setJobGroup(barrier, "listener bus barrier")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(barrier).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(barrier).nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "building the merge-on-read read ran Spark jobs")

    val rows = df.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("v"), Option(r.getAs[Integer]("n")).map(_.toInt)))
    assert(rows.toSet === Set((1L, "a2", Some(10)), (3L, "c", None), (4L, "d", Some(40))))
  }

  test("merge-on-read: INT and BIGINT deltas and an added column read, compact and read again") {
    // base in the oldest schema; `n` is INT in an early delta and BIGINT in
    // a later one; the last delta adds `tag`
    val dir = java.nio.file.Files.createTempDirectory("pqsink_mor_mixed").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath,
      numBuckets = 4, mergeOnRead = true)
    val tid = TableId.parse("db.w")
    def info(n: DataType, extra: StructField*) = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("n", n),
        StructField("v", StringType)) ++ extra),
      primaryKeys = Seq("id"))
    val v1 = info(IntegerType)
    val v2 = info(LongType)
    val v3 = info(LongType, StructField("tag", StringType))
    sink.write(tid, Seq((1L, 1, "a", "+I", 1L), (2L, 2, "b", "+I", 2L))
      .toDF("id", "n", "v", Changelog.OpCol, Changelog.SeqCol), v1)
    sink.compact(tid, v1)
    sink.write(tid, Seq((3L, 3, "c", "+I", 3L))
      .toDF("id", "n", "v", Changelog.OpCol, Changelog.SeqCol), v1)
    sink.write(tid, Seq((1L, 5000000000L, "a2", "+U", 4L))
      .toDF("id", "n", "v", Changelog.OpCol, Changelog.SeqCol), v2)
    sink.write(tid, Seq(
      (4L, 4L, "d", Option("x"), "+I", 5L),
      (2L, 2L, "b", Option.empty[String], "-D", 6L))
      .toDF("id", "n", "v", "tag", Changelog.OpCol, Changelog.SeqCol), v3)

    val expected = Set(
      (1L, 5000000000L, "a2", None), (3L, 3L, "c", None), (4L, 4L, "d", Some("x")))
    def state() = {
      val df = sink.read(tid)
      assert(df.schema("n").dataType === LongType)
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n"),
        r.getAs[String]("v"), Option(r.getAs[String]("tag")))).toSet
    }
    assert(state() === expected)
    sink.compact(tid, v3)
    assert(new java.io.File(dir, "db/w__delta").listFiles().isEmpty)
    assert(state() === expected)
  }

  test("truncate clears data but keeps the table writable; drop removes it") {
    import graft.model.{CreateTableEvent, DropTableEvent, TruncateTableEvent}
    val dir = java.nio.file.Files.createTempDirectory("pqsink_trunc").toFile
    val tid = TableId.parse("db.t")
    val info = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val reg = new graft.schema.SchemaRegistry(graft.schema.SchemaChangeBehavior.Evolve)
    reg.apply(CreateTableEvent(tid, info))
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, registry = Some(reg))
    sink.write(tid, Seq((1L, "a", "+I", 1L), (2L, "b", "+I", 2L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    assert(sink.read(tid).count() === 2)

    sink.applySchemaChange(TruncateTableEvent(tid))
    assert(sink.read(tid).count() === 0)
    // still writable after truncate (marker kept)
    sink.write(tid, Seq((3L, "c", "+I", 3L))
      .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol), info)
    assert(sink.read(tid).collect().map(_.getLong(0)).toSeq === Seq(3L))

    sink.applySchemaChange(DropTableEvent(tid))
    assert(!new java.io.File(dir, "db/t").exists())
  }

  test("COW widening: INT and BIGINT bucket files coexist after a partial rewrite") {
    // an INT shard and a BIGINT shard route into one 4-bucket table: the
    // INT bulk write fills every bucket, the widened write rewrites only
    // the bucket of its key, so INT and BIGINT files sit side by side;
    // the next merge and the read must widen the INT buckets
    import graft.model.{CreateTableEvent, DataChangeEvent, FlushEvent}
    import graft.pipeline.{PipelineDef, PipelineRunner, SinkDef, SourceDef}
    import graft.sources.ValuesSource
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("pqsink_widen").toFile
    val sink = new ParquetUpsertSink(spark, dir.getAbsolutePath, numBuckets = 4)
    val intShard = TableId.parse("db.orders_0")
    val longShard = TableId.parse("db.orders_1")
    def shard(qty: DataType) = TableInfo(
      StructType(Seq(StructField("id", LongType), StructField("qty", qty))),
      primaryKeys = Seq("id"))
    // a BIGINT-shard key outside bucket 0 (the sink buckets on
    // pmod(hash(pk), n)), so the lowest bucket directory stays INT
    val wideKey = spark.range(100, 200)
      .where(pmod(hash(col("id")), lit(4)) =!= 0).head().longValue
    val script = Seq(CreateTableEvent(intShard, shard(IntegerType))) ++
      (1 to 40).map(i => DataChangeEvent.insert(intShard, Row(i.toLong, i))) ++ Seq(
        CreateTableEvent(longShard, shard(LongType)),
        DataChangeEvent.insert(longShard, Row(wideKey, 5000000000L)),
        FlushEvent(Nil),
        // small write: two keys, both tables, INT and BIGINT buckets
        DataChangeEvent.update(intShard, Row(1L, 1), Row(1L, -1)),
        DataChangeEvent.update(longShard, Row(wideKey, 5000000000L), Row(wideKey, 6000000000L)))
    val pd = PipelineDef(SourceDef("values", Map.empty), SinkDef("parquet", Map.empty),
      routes = Seq(graft.route.RouteRule("db.orders_\\.*", "dw.orders")))
    new PipelineRunner(spark, pd, new ValuesSource(script), sink).run()
    val out = sink.read(TableId.parse("dw.orders"))
    assert(out.schema("qty").dataType === LongType)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      ((2L to 40L).map(i => (i, i)) ++ Seq((1L, -1L), (wideKey, 6000000000L))).toSet)
  }

  test("udf registry: lifecycle open runs once, eval callable from SQL") {
    object CountingUdf extends ScalarUdf1[String, Int] {
      var opened = 0
      override def open(options: Map[String, String]): Unit = opened += options.size
      def eval(in: String): Int = if (in == null) 0 else in.length
    }
    UdfRegistry.register(spark, "strlen_udf", CountingUdf, Map("k" -> "v"))
    val out = spark.sql("SELECT strlen_udf('hello') AS n").head().getInt(0)
    assert(out === 5)
  }
}
