package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the operation the span
  * belongs to (-1 for set-up, -2 for the untimed check phase). Times are
  * epoch nanoseconds so that listener event times (epoch ms) line up.
  */
final case class Span(layer: String, name: String, op: Int, startNs: Long, endNs: Long)

/** Spans and listener counters of the traced run, kept in memory and
  * written out when the run ends. With tracing off every method is a
  * pass-through and no listener is installed.
  */
final class Trace(val enabled: Boolean) {
  import Trace._
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nano0 = System.nanoTime()
  private val epoch0Ns = System.currentTimeMillis() * 1000000L

  /** Epoch-aligned nanosecond clock with `System.nanoTime` resolution. */
  def now(): Long = epoch0Ns + (System.nanoTime() - nano0)

  def span[T](layer: String, name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = now()
      try body finally spans.synchronized { spans += Span(layer, name, op, t0, now()) }
    }

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  // ---- listener counters; event callbacks run on Spark's listener bus
  // threads, and are all read after the session stops (which drains it).

  val jobs = mutable.Map.empty[Int, Job]
  val stageJob = mutable.Map.empty[Int, Int]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val phases = mutable.ArrayBuffer.empty[Phase]
  val rules = mutable.ArrayBuffer.empty[Rule]
  val progress = mutable.ArrayBuffer.empty[Progress]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("op-") => g.stripPrefix("op-").toInt }
      .getOrElse(-99)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = Job(e.jobId, opOf(e.properties), e.time, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.duration,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
        m.inputMetrics.recordsRead)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ps = qe.tracker.phases
      ps.foreach { case (n, p) => phases += Phase(n, p.startTimeMs, p.endTimeMs) }
      val at = if (ps.isEmpty) System.currentTimeMillis() else ps.values.map(_.startTimeMs).min
      qe.tracker.rules.foreach { case (n, r) =>
        if (n.startsWith("graft.")) rules += Rule(at, n, r.totalTimeNs)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = Option(p.durationMs).map { m =>
          import scala.jdk.CollectionConverters._
          m.asScala.map { case (k, v) => k -> v.longValue }.toMap
        }.getOrElse(Map.empty[String, Long])
        val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress += Progress(at, d, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
      }
  }
}

object Trace {
  // Events carry the operation's job group when Spark ran them under it
  // (op = -99 otherwise: stream micro-batches run under their own group);
  // those are keyed to an operation by time when the trace is summarised.
  final case class Job(id: Int, op: Int, startMs: Long, var endMs: Long)
  final case class Task(stage: Int, durMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, gcMs: Long, recordsRead: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Rule(atMs: Long, name: String, ns: Long)
  final case class Progress(atMs: Long, durations: Map[String, Long],
      stateRows: Long, stateMem: Long, stateCommitMs: Long)
}
