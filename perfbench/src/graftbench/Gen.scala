package graftbench

import org.apache.spark.sql.types._
import scala.collection.mutable

/** Deterministic value source: every generated value is a pure function of
  * (seed, table, key, version, column), so the generator and the expected
  * state agree without sharing mutable state.
  */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def of(parts: Long*): Long = parts.foldLeft(0x2545F4914F6CDD1DL)((h, p) => mix64(h ^ p))
}

/** Column kinds the generators emit, with their Spark type, JSON rendering
  * and the value Spark hands back on collect.
  */
sealed abstract class Kind(val sparkType: DataType) {
  def value(h: Long): Any
  def json(v: Any): String
}
object Kind {
  case object Big extends Kind(LongType) {
    def value(h: Long): Any = (h >>> 20) % 4000000000000L
    def json(v: Any): String = v.toString
  }
  /** BIGINT values past the INT range (what a widened column carries). */
  case object Wide extends Kind(LongType) {
    def value(h: Long): Any = 3000000000L + (h >>> 40)
    def json(v: Any): String = v.toString
  }
  case object Int32 extends Kind(IntegerType) {
    def value(h: Long): Any = ((h >>> 33) % 1000000L).toInt
    def json(v: Any): String = v.toString
  }
  case object Dbl extends Kind(DoubleType) {
    def value(h: Long): Any = ((h >>> 24) % 10000000L) / 100.0
    def json(v: Any): String = java.lang.Double.toString(v.asInstanceOf[Double])
  }
  case object Dec extends Kind(DecimalType(12, 2)) {
    def value(h: Long): Any = java.math.BigDecimal.valueOf((h >>> 20) % 10000000000L, 2)
    def json(v: Any): String = v.asInstanceOf[java.math.BigDecimal].toPlainString
  }
  case object Str extends Kind(StringType) {
    def value(h: Long): Any = "v" + java.lang.Long.toString(h >>> 8, 36)
    def json(v: Any): String = Json.str(v.toString)
  }
  final case class Pick(options: Seq[String]) extends Kind(StringType) {
    def value(h: Long): Any = options(((h >>> 33) % options.size).toInt)
    def json(v: Any): String = Json.str(v.toString)
  }
  case object Ts extends Kind(TimestampType) {
    private val base = 1704067200000L // 2024-01-01T00:00:00Z
    def value(h: Long): Any = new java.sql.Timestamp(base + (h >>> 30) % 31536000000L)
    private val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
    def json(v: Any): String =
      "\"" + fmt.format(v.asInstanceOf[java.sql.Timestamp].toInstant) + "\""
  }
  case object Bool extends Kind(BooleanType) {
    def value(h: Long): Any = (h & 1L) == 1L
    def json(v: Any): String = v.toString
  }
}

/** One generated table: `id` BIGINT primary key plus typed columns. */
final case class TableSpec(db: String, name: String, cols: Seq[(String, Kind)]) {
  def id: String = s"$db.$name"
  def schema: StructType = StructType(
    StructField("id", LongType, nullable = false) +: cols.map { case (n, k) => StructField(n, k.sparkType) })
}

/** A row image: column name -> collected value (id included). */
final case class Image(values: Seq[(String, Any)]) {
  def get(c: String): Any = values.find(_._1 == c).map(_._2).orNull
  def json(kinds: Map[String, Kind]): String =
    values.map { case (c, v) =>
      Json.str(c) + ":" + (if (v == null) "null" else kinds(c).json(v))
    }.mkString("{", ",", "}")
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, val s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: java.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated change of a key: `before`/`after` are image versions,
  * -1 where the op has no such image.
  */
final case class Change(op: Char, id: Long, before: Int, after: Int)

/** The keyed change log of one table: the live version of every key, and
  * the last version a key ever had, so a re-created key gets a new image.
  */
final class KeyedLog(deleteShareOfExisting: Double, stats: TrafficStats) {
  val live = mutable.LongMap[Int]()
  private val last = mutable.LongMap[Int]()

  /** A row of the initial state, at version 0. */
  def load(id: Long): Unit = { live(id) = 0; last(id) = 0 }

  def create(id: Long): Change = {
    val v = last.getOrElse(id, -1) + 1
    live(id) = v; last(id) = v; stats.creates += 1
    Change('c', id, -1, v)
  }

  /** The next change of `id`: a create when it is absent, else a delete
    * with the given share, else an update.
    */
  def change(id: Long, rnd: java.util.Random): Change = live.get(id) match {
    case None => create(id)
    case Some(v) if rnd.nextDouble() < deleteShareOfExisting =>
      live.remove(id); stats.deletes += 1
      Change('d', id, v, -1)
    case Some(v) =>
      live(id) = v + 1; last(id) = v + 1; stats.updates += 1
      Change('u', id, v, v + 1)
  }
}

/** Measured properties of a generated change stream (never assumed). */
final class TrafficStats {
  var creates = 0L; var updates = 0L; var deletes = 0L
  var ddl = 0L; var malformed = 0L; var bytes = 0L; var lines = 0L
  val rankHits = mutable.LongMap[Long]()
  /** 1 - distinct keys / events, per micro-batch. */
  val batchRepeat = mutable.ArrayBuffer[Double]()

  def hit(rank: Int): Unit = rankHits(rank.toLong) = rankHits.getOrElse(rank.toLong, 0L) + 1
  def events: Long = creates + updates + deletes
  def share(x: Long): Double = if (events == 0) 0.0 else x.toDouble / events
  def keyRepeatRate: Double = if (batchRepeat.isEmpty) 0.0 else batchRepeat.sum / batchRepeat.size
  def malformedShare: Double = if (lines == 0) 0.0 else malformed.toDouble / lines
  def payloadBytes: Double = if (lines == 0) 0.0 else bytes.toDouble / lines

  /** Least-squares slope of log(hits) against log(rank) over the 50 hottest
    * ranks: the Zipf exponent the stream actually has.
    */
  def zipfExponent: Double = {
    val pts = rankHits.toSeq.filter(_._2 > 0).sortBy(_._1).take(50)
      .map { case (r, c) => (math.log(r + 1.0), math.log(c.toDouble)) }
    if (pts.size < 3) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val num = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      -num / den
    }
  }

  /** The properties as `# traffic.*` lines of every run. */
  def report(o: Outcome, ddlBatchShare: Double, tables: Int): Unit = {
    o.info("traffic.events") = events.toString
    o.info("traffic.op_mix_c_u_d") =
      f"${share(creates)}%.3f/${share(updates)}%.3f/${share(deletes)}%.3f"
    o.info("traffic.zipf_exponent_measured") = f"$zipfExponent%.3f"
    o.info("traffic.key_repeat_rate") = f"$keyRepeatRate%.3f"
    o.info("traffic.ddl_batch_share") = f"$ddlBatchShare%.3f"
    o.info("traffic.ddl_statements") = ddl.toString
    o.info("traffic.malformed_share") = f"$malformedShare%.4f"
    o.info("traffic.payload_bytes_per_line") = f"$payloadBytes%.1f"
    o.info("traffic.tables") = tables.toString
  }

  /** The properties as the traced run's `gen.*` metrics. */
  def put(o: Outcome, ddlBatchShare: Double, tables: Int): Unit = {
    o.put("gen.key_repeat_rate", keyRepeatRate, "ratio")
    o.put("gen.zipf_exponent", zipfExponent, "ratio")
    o.put("gen.create_share", share(creates), "ratio")
    o.put("gen.update_share", share(updates), "ratio")
    o.put("gen.delete_share", share(deletes), "ratio")
    o.put("gen.ddl_batch_share", ddlBatchShare, "ratio")
    o.put("gen.malformed_share", malformedShare, "ratio")
    o.put("gen.payload_bytes", payloadBytes, "B")
    o.put("gen.tables", tables, "count")
  }
}

/** Writes feed files atomically: a file appears in the topic directory
  * only once complete, under a name whose trailing digits are its log
  * segment number (the file topic's deterministic order).
  */
final class FeedWriter(dir: java.io.File, staging: java.io.File) {
  dir.mkdirs(); staging.mkdirs()
  def write(seq: Int, lines: Seq[String]): java.io.File = {
    val name = f"part-$seq%06d.json"
    val tmp = new java.io.File(staging, name)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(tmp), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.move(tmp.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    dst
  }
}
