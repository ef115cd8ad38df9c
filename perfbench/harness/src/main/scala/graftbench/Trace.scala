package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.util.control.NonFatal

/** A span around one call into graft, or around a pipeline step that
  * holds several calls. Its name is `<layer>:<call>`. Counters hold the
  * Spark work attributed to it.
  */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** In-memory tracer. Jobs, stages and tasks are attributed to the span
  * that was innermost when the job was submitted (carried as a local
  * property); query-execution events to the span that is innermost when
  * they are delivered, which a span guarantees by draining the listener
  * bus before it closes. Outside `start`..`stop`, `span` only runs its
  * body and no listener is registered.
  */
final class Tracer {
  import Tracer.SpanKey

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val unattributed = new Span(-1, -1, "unattributed", 0L)
  private val jobSpan = mutable.Map.empty[Int, (Int, Long, Seq[Int])]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val submitted = mutable.Set.empty[Int]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private var sc: SparkContext = _

  def enabled: Boolean = sc != null

  def start(session: org.apache.spark.sql.SparkSession): Unit = {
    sc = session.sparkContext
    sc.addSparkListener(listener)
    session.listenerManager.register(queryListener)
  }

  def stop(session: org.apache.spark.sql.SparkSession): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    session.listenerManager.unregister(queryListener)
    sc = null
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime())
        spans += s
        stack = s.id :: stack
        s
      }
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        Bus.drain(sc)
        synchronized { stack = stack.tail }
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  private def spanOf(id: Int): Span = if (id >= 0 && id < spans.size) spans(id) else unattributed

  private def add(id: Int, k: String, v: Double): Unit = synchronized { spanOf(id).add(k, v) }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = (id, e.time, e.stageIds)
      e.stageIds.foreach(stageSpan(_) = id)
      add(id, "jobs", 1)
      add(id, "stages", e.stageIds.size)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized { submitted += e.stageInfo.stageId }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, start, stages) =>
        jobs += ((id, start, e.time))
        add(id, "stages_skipped", stages.count(s => !submitted(s)))
        if (e.jobResult != JobSucceeded) add(id, "jobs_failed", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val id = stageSpan.getOrElse(e.stageId, -1)
      add(id, "tasks", 1)
      if (e.taskInfo != null && e.taskInfo.successful) add(id, "tasks_ok", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(id, "executor_run_ms", m.executorRunTime.toDouble)
        add(id, "executor_cpu_ms", m.executorCpuTime / 1e6)
        add(id, "gc_ms", m.jvmGCTime.toDouble)
        add(id, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(id, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(id, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add(id, "spill_memory_bytes", m.memoryBytesSpilled.toDouble)
        add(id, "spill_disk_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val id = synchronized(stack.headOption.getOrElse(-1))
    qe.tracker.phases.foreach { case (phase, summary) => add(id, s"phase_${phase}_ms", summary.durationMs.toDouble) }
    val ex = try Tracer.exchanges(qe.executedPlan) catch { case NonFatal(_) => 0 }
    add(id, "exchanges", ex)
    add(id, "queries", 1)
  }

  private def ms(ns: Long): Double = epoch0 + (ns - nano0) / 1e6

  /** Spans and job intervals, times in epoch milliseconds. */
  def dump(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs), "counters" -> s.counters.toMap)).toList,
      "unattributed" -> unattributed.counters.toMap,
      "jobs" -> jobs.map { case (id, a, b) => List(id, a, b) }.toList)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Shuffle exchanges in an executed plan, looking through adaptive
    * query stages and subqueries; a reused exchange is not counted again.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}

/** Counts every call into graft and every output check. A call that
  * throws is counted as failed and the run goes on.
  */
final class Calls(tracer: Tracer) {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** (name, wall ms) of every call that returned. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]

  def call[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(name)(body)
      samples += name -> (System.nanoTime() - t0) / 1e6
      Some(v)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      failed += 1
      errors += s"check $name failed: $detail"
    }
}
