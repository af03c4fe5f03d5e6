package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. Spans are recorded only
  * around the benchmark's own calls into the system (each layer
  * boundary), plus spans derived from Spark listener events. When
  * tracing is off, [[span]] only runs its body.
  *
  * A span's layer is the part of its name before the first dot, named
  * after the module it times (`api`, `storage`, `streaming`, ...).
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def durMs: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val curSpan = new ThreadLocal[Long] { override def initialValue = 0L }
  private val curOp = new ThreadLocal[Long] { override def initialValue = 0L }

  /** Spark local properties carrying the active span/op to the
    * listener, so each Spark job is attributed to the call that ran it.
    */
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  def newId(): Long = ids.incrementAndGet()

  /** Id of the innermost open span on this thread (0 outside any). */
  def currentSpan: Long = curSpan.get

  /** Time `body` as a span. `op` and `parent` default to those of the
    * enclosing span on this thread; pass them to continue an op that
    * started on another thread.
    */
  def span[T](name: String, op: Long = -1L, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val sc = Bench.spark.sparkContext
      val id = newId()
      val prevSpan = curSpan.get
      val par = if (parent >= 0) parent else prevSpan
      val prevOp = curOp.get
      val o = if (op >= 0) op else prevOp
      val prevSpanProp = sc.getLocalProperty(SpanProp)
      val prevOpProp = sc.getLocalProperty(OpProp)
      curSpan.set(id); curOp.set(o)
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(OpProp, o.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, par, o, name, t0, System.nanoTime()))
        curSpan.set(prevSpan); curOp.set(prevOp)
        sc.setLocalProperty(SpanProp, prevSpanProp)
        sc.setLocalProperty(OpProp, prevOpProp)
      }
    }

  /** Record a span measured elsewhere (listener events). */
  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per-layer self time: each span's duration minus the part of its
    * interval covered by its children.
    */
  def selfMsByLayer(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = coveredNs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Time covered by at least one of the spans, in ms. */
  def coveredMs(ss: Seq[Span]): Double = coveredNs(ss.map(s => (s.startNs, s.endNs))) / 1e6

  /** Length of the union of the intervals (start, end). */
  private def coveredNs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    covered
  }

  /** One JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
