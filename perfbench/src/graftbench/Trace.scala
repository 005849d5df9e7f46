package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. Every span carries a name,
  * its layer (a module name under graft/, or "bench" for the harness's own
  * workload/phase spans), start and end in epoch microseconds, a parent id
  * and the run's trace id. Nothing here reaches into the engine: spans come
  * from wrappers around public entry points, from Spark's listener bus and
  * from streaming progress reports.
  */
object Trace {
  @volatile var on = false
  val traceId: Long = System.nanoTime() ^ 0x5DEECE66DL

  /** Spark local property carrying the active span id; Spark copies local
    * properties into every job it submits, so the job listener can
    * attribute jobs to the span that issued them.
    */
  val SpanProp = "graftbench.span"

  final case class Span(id: Long, parent: Long, name: String, layer: String,
      start: Long, end: Long) {
    def dur: Long = end - start
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  // inheritable: the streaming execution thread starts under the phase span
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  private val wallBaseUs = System.currentTimeMillis() * 1000
  private val nanoBase = System.nanoTime()
  def nowUs: Long = wallBaseUs + (System.nanoTime() - nanoBase) / 1000

  def newId(): Long = ids.getAndIncrement()
  def currentId: Long = current.get()
  def record(s: Span): Unit = if (on) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()

  final class Open(val id: Long, val parent: Long, val name: String,
      val layer: String, val start: Long, prevProp: String)(implicit sc: SparkCtx) {
    def close(): Span = {
      val s = Span(id, parent, name, layer, start, nowUs)
      record(s)
      current.set(parent)
      sc.setProp(prevProp)
      s
    }
  }

  /** Open a span on the calling thread; it becomes the parent of spans and
    * Spark jobs started on this thread until it is closed.
    */
  def open(name: String, layer: String)(implicit sc: SparkCtx): Open = {
    val id = newId()
    val parent = current.get().longValue
    val prev = sc.getProp
    current.set(id)
    sc.setProp(id.toString)
    new Open(id, parent, name, layer, nowUs, prev)
  }

  def span[T](name: String, layer: String)(f: => T)(implicit sc: SparkCtx): T =
    if (!on) f
    else {
      val o = open(name, layer)
      try f finally o.close()
    }

  /** Re-parent spans whose recorded parent is `phase` but which lie inside
    * a micro-batch span of that phase (sink calls and jobs issued on the
    * stream thread only know the phase they inherited).
    */
  def nestInBatches(all: Seq[Span]): Seq[Span] = {
    val batches = all.filter(s => s.layer == "streaming" && s.name.startsWith("batch"))
      .groupBy(_.parent)
    all.map { s =>
      if (s.layer == "streaming" && s.name.startsWith("batch")) s
      else batches.get(s.parent).flatMap(_.find(b =>
        b.start <= s.start + 1000 && s.end <= b.end + 1000 && b.id != s.id)) match {
        case Some(b) => s.copy(parent = b.id)
        case None => s
      }
    }
  }

  /** Exclusive ("self") time per span along the blocking path: the
    * timeline of `root` is cut at every span boundary and each piece goes
    * to the deepest span active in it (ties: the latest started). Pieces
    * with no span below the root go to the root. The values sum to the
    * root's duration exactly.
    */
  def selfTimes(root: Span, all: Seq[Span]): Map[Long, Long] = {
    val byId = all.map(s => s.id -> s).toMap
    val depth = mutable.Map[Long, Int](root.id -> 0)
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id, {
      var d = 0; var p = s.parent; var guard = 0
      while (p != root.id && p != 0 && guard < 64) {
        d += 1; p = byId.get(p).map(_.parent).getOrElse(0L); guard += 1
      }
      if (p == root.id) d + 1 else -1 // -1: not under this root
    })
    val members = all.filter(s => s.id != root.id && depthOf(s) > 0)
      .map(s => s.copy(start = math.max(s.start, root.start), end = math.min(s.end, root.end)))
      .filter(s => s.end > s.start)
    val cuts = (members.flatMap(s => Seq(s.start, s.end)) ++ Seq(root.start, root.end))
      .distinct.sorted
    val out = mutable.Map[Long, Long]().withDefaultValue(0L)
    // active set maintained by sweeping starts/ends in order
    val starts = members.sortBy(_.start)
    var si = 0
    val active = mutable.Set[Span]()
    var i = 0
    while (i < cuts.length - 1) {
      val a = cuts(i); val b = cuts(i + 1)
      while (si < starts.length && starts(si).start <= a) { active += starts(si); si += 1 }
      active.filterInPlace(_.end > a)
      val owner =
        if (active.isEmpty) root.id
        else active.maxBy(s => (depthOf(s), s.start)).id
      out(owner) += b - a
      i += 1
    }
    out.toMap
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"trace":$traceId,"name":${Json.str(s.name)},""" +
      s""""layer":${Json.str(s.layer)},"start_us":${s.start},"end_us":${s.end}}"""
}

/** Thin handle on the SparkContext local properties (kept apart so Trace
  * has no hard dependency on a live session).
  */
final class SparkCtx(sc: org.apache.spark.SparkContext) {
  def getProp: String = sc.getLocalProperty(Trace.SpanProp)
  def setProp(v: String): Unit = sc.setLocalProperty(Trace.SpanProp, v)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d) match {
      case s if s.contains("E") => java.math.BigDecimal.valueOf(d).toPlainString
      case s => s
    }
}
