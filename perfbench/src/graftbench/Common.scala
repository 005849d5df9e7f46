package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Everything a workload needs from the harness. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val trace: Boolean,
    val cores: Int,
    val work: java.io.File,
    val benchDir: java.io.File,
    val catalogue: Catalogue,
    val engine: EngineListener,
    val progress: ProgressListener,
    val out: Outcome = new Outcome) {
  implicit val sc: SparkCtx = new SparkCtx(spark.sparkContext)
  def dir(name: String): java.io.File = {
    val d = new java.io.File(work, name); d.mkdirs(); d
  }
}

/** Operation accounting and metric collection for one run. */
final class Outcome {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one operation; a false verdict or a thrown exception fails it. */
  def op(name: String)(f: => Boolean): Boolean = {
    attempted += 1
    val ok = try f catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name threw: $e")
      false
    }
    if (!ok) { failed += 1; failures += name }
    ok
  }
}

object Timing {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Full-row hashing: the Spark side consumes every column (so Catalyst
  * cannot prune), the driver side canonicalizes collected rows into
  * strings for exact comparison against the bench's own expectation.
  */
object RowHash {
  import org.apache.spark.sql.functions._

  private def digestOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))).as("h"))

  /** (row count, xor of xxhash64 over all columns) — forces every column. */
  def consume(df: DataFrame): (Long, Long) = {
    val r = digestOf(df).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** [[consume]] of several frames in one Spark job; returns total rows. */
  def consumeAll(dfs: Seq[DataFrame]): Long =
    dfs.map(digestOf).reduce(_ unionByName _).collect().map(_.getLong(0)).sum

  /** Canonical text of one value: integers by value (so a widened INT
    * compares equal to the BIGINT it became), decimals without trailing
    * zeros, timestamps as epoch micros.
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp =>
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case i: Int => i.toLong.toString
    case s: Short => s.toLong.toString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Double.toString(f.toDouble)
    case o => o.toString
  }

  /** Canonical row: column=value pairs sorted by column name. */
  def canonRow(cols: Seq[String], values: Seq[Any]): String =
    cols.zip(values).sortBy(_._1).map { case (c, v) => c + "=" + canon(v) }.mkString("|")

  def canonRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq
    df.collect().toSeq.map(r => canonRow(cols, r.toSeq))
  }

  /** Order-independent digest of a multiset of canonical rows. */
  def digest(rows: Iterable[String]): (Long, Long) = {
    var x = 0L; var s = 0L; var n = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r).toLong * 0x9E3779B97F4A7C15L ^
        r.hashCode.toLong
      x ^= h; s += h; n += 1
    }
    (n, x * 31 + s)
  }
}

object Proc {
  /** Largest heap in use right after any garbage collection since
    * [[install]]: the memory the program keeps, which the fixed heap size
    * does not show.
    */
  object HeapAfterGc {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory, MemoryType}
    @volatile var peakBytes = 0L
    private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peakBytes = math.max(peakBytes, used) }
          }
        }, null, null)
      case _ => ()
    }
  }

  /** (memory peak, VmHWM, committed heap) in MB. The heap is fixed and
    * pre-touched, so VmHWM minus the committed heap is the native peak; the
    * memory peak adds the largest heap still in use after a collection.
    */
  def memPeak: (Double, Double, Double) = {
    val rss = status("VmHWM:")
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getCommitted / 1048576.0
    (rss - heap + HeapAfterGc.peakBytes / 1048576.0, rss, heap)
  }
  def status(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** (steal, total) CPU jiffies of the host since boot, from /proc/stat. */
  def cpuSteal: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))
    finally src.close()
  }

  def codeCacheMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Heap in use, sampled on a daemon thread while a window is open. */
  final class HeapSampler {
    @volatile private var run = true
    @volatile var peakMb = 0.0
    private val t = new Thread(() => {
      val rt = Runtime.getRuntime
      while (run) {
        peakMb = math.max(peakMb, (rt.totalMemory - rt.freeMemory) / 1048576.0)
        Thread.sleep(50)
      }
    })
    t.setDaemon(true); t.start()
    def stop(): Double = { run = false; t.join(); peakMb }
  }
}

object Check {
  /** Exact multiset comparison of canonical rows; prints the first diffs. */
  def report(table: String, expected: Seq[String], actual: Seq[String]): Boolean = {
    val ok = expected == actual
    if (!ok) {
      def byId(rows: Seq[String]): Map[String, String] =
        rows.map(r => r.split('|').find(_.startsWith("id=")).getOrElse(r) -> r).toMap
      val e = byId(expected); val a = byId(actual)
      System.err.println(s"[perfbench] MISMATCH $table: expected ${expected.size} rows, " +
        s"got ${actual.size}; digest ${RowHash.digest(expected)} vs ${RowHash.digest(actual)}")
      (e.keySet -- a.keySet).take(3).foreach(k => System.err.println(s"[perfbench]   missing: ${e(k)}"))
      (a.keySet -- e.keySet).take(3).foreach(k => System.err.println(s"[perfbench]   unexpected: ${a(k)}"))
      e.keySet.intersect(a.keySet).filter(k => e(k) != a(k)).take(3).foreach { k =>
        System.err.println(s"[perfbench]   differs: expected ${e(k)}")
        System.err.println(s"[perfbench]            actual   ${a(k)}")
      }
    }
    ok
  }
}
