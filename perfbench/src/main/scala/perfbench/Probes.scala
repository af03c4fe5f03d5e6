package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Spark listener that attributes every job, stage and task to the op
  * that submitted it: the op named by [[Trace.OpProp]], or the
  * streaming micro-batch named by Spark's own query/batch properties.
  * Job walls become `spark.job` spans under the span that ran them.
  */
final class SparkProbe extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var cpuNs, shuffleRead, shuffleWrite, input = 0L
  }
  val byOp = new ConcurrentHashMap[Long, Agg]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  // listener events carry wall-clock ms; spans use nanoTime
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def agg(op: Long): Agg = byOp.computeIfAbsent(op, _ => new Agg)

  private def opOf(p: java.util.Properties): (Long, Long) = {
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    prop(Trace.OpProp).map(o => (o.toLong, prop(Trace.SpanProp).fold(0L)(_.toLong)))
      .orElse(for { q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId") }
        yield { val op = StreamProbe.batchOp(q, b.toLong); (op, StreamProbe.batchSpan(op)) })
      .getOrElse((0L, 0L))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (op, parent) = opOf(e.properties)
    e.stageIds.foreach(stageOp.put(_, op))
    val a = agg(op)
    a.synchronized(a.jobs += 1)
    jobs.put(e.jobId, (op, parent, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (op, parent, t0) =>
      Trace.record(Trace.Span(Trace.newId(), parent, op, "spark.job",
        t0 * 1000000L + nsOffset, e.time * 1000000L + nsOffset))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageOp.getOrDefault(e.stageInfo.stageId, 0L))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageOp.getOrDefault(e.stageId, 0L))
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
      }
    }
  }
}

/** Streaming progress, kept per query name: each micro-batch's start,
  * completion, phase durations, source offset ranges and state size.
  */
object StreamProbe extends StreamingQueryListener {
  final case class Batch(query: String, batchId: Long, startMs: Long, endMs: Long,
                         durations: Map[String, Long],
                         // source description -> (start offset, end offset]
                         offsets: Map[String, (Long, Long)],
                         inputRows: Long, stateRows: Long, stateBytes: Long,
                         lateDropped: Long)

  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val names = new ConcurrentHashMap[String, String]()
  /** Name a running query by its id (runPipelineTx names no query). */
  def alias(queryId: String, name: String): Unit = names.put(queryId, name)
  private val ops = new ConcurrentHashMap[(String, Long), Long]()
  private val spans = new ConcurrentHashMap[Long, Long]()

  def batchOp(queryId: String, batchId: Long): Long =
    ops.computeIfAbsent((queryId, batchId), _ => Trace.newId())
  /** The ops of every micro-batch seen so far, catch-up included. */
  def batchOps: Set[Long] = ops.values.asScala.toSet
  def batchSpan(op: Long): Long = spans.computeIfAbsent(op, _ => Trace.newId())

  private def offset(json: String): Long =
    Option(json).map(_.trim).filter(s => s.nonEmpty && s != "null")
      .map(_.filter(c => c.isDigit || c == '-')).filter(_.nonEmpty).fold(-1L)(_.toLong)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    names.putIfAbsent(e.id.toString, Option(e.name).getOrElse(e.id.toString))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = start + d.getOrElse("triggerExecution", 0L)
    val st = p.stateOperators.toSeq
    val b = Batch(names.getOrDefault(p.id.toString, Option(p.name).getOrElse("?")),
      p.batchId, start, end, d,
      p.sources.map(s => s.description -> (offset(s.startOffset), offset(s.endOffset))).toMap,
      p.numInputRows, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.numRowsDroppedByWatermark).sum)
    batches.add(b)
    val op = batchOp(p.id.toString, p.batchId)
    Trace.record(Trace.Span(batchSpan(op), 0L, op, s"streaming.${b.query}.batch",
      Bench.msToNs(start), Bench.msToNs(end)))
  }
}
