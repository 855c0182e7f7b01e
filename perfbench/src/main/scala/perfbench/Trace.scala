package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the program's modules, recorded only when tracing
  * is on. Each span keeps its parent, so the end-of-run table can show self
  * time (a span's time minus its children's).
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  /** Time spent inside the bookkeeping itself, for `trace.overhead_pct`. */
  var costNs = 0L

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val c0 = System.nanoTime()
      val idx = spans.size
      spans += Span(name, open.headOption.getOrElse(-1), 0L, 0L)
      open = idx :: open
      val t0 = System.nanoTime()
      spans(idx) = spans(idx).copy(startNs = t0)
      costNs += t0 - c0
      try body
      finally {
        val t1 = System.nanoTime()
        spans(idx).endNs = t1
        open = open.tail
        costNs += System.nanoTime() - t1
      }
    }

  /** Record an already-measured interval (a micro-batch phase) as a child of
    * `parent`, which must be a span index returned by [[add]].
    */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) -1
    else { spans += Span(name, parent, startNs, endNs); spans.size - 1 }

  def currentIndex: Int = open.headOption.getOrElse(-1)

  /** name -> (count, total ms, self ms), sorted by self time. */
  def selfTable: Seq[(String, Int, Double, Double)] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      val tot = is.map(i => spans(i).endNs - spans(i).startNs).sum
      val self = is.map(i => spans(i).endNs - spans(i).startNs - child(i)).sum
      (n, is.size, tot / 1e6, self / 1e6)
    }.toSeq.sortBy(-_._4)
  }

  def toJson: String =
    spans.map { s =>
      s"""{"name":${Json.str(s.name)},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[", ",\n", "]")
}

object Spans {
  final case class Span(name: String, parent: Int, startNs: Long, var endNs: Long)
}

/** Executor-side counters from Spark's public listener API. `snapshot` and
  * `delta` give the work done between two points of the run;
  * call [[ExecCounters.drain]] first so every event has been delivered.
  */
final class ExecCounters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var schedDelayMs = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var costNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c0 = System.nanoTime()
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
      schedDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    costNs += System.nanoTime() - c0
  }

  def snapshot: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble, "exec.tasks" -> tasks.toDouble,
    "exec.executor_run_ms" -> runMs.toDouble, "exec.executor_cpu_ms" -> cpuNs / 1e6,
    "exec.scheduler_delay_ms" -> schedDelayMs.toDouble,
    "exec.shuffle_read_bytes" -> shuffleRead.toDouble, "exec.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "exec.spill_bytes" -> spill.toDouble))
}

object ExecCounters {
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Planning time of every successful action, from its QueryPlanningTracker
  * (analysis + optimization + planning phases), keyed by action order.
  */
final class PlanTimes extends QueryExecutionListener {
  val planMs = mutable.ArrayBuffer.empty[Double]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[Double] = synchronized { val r = planMs.toList; planMs.clear(); r }
}

object Trace {
  def install(spark: SparkSession): (ExecCounters, PlanTimes) = {
    val ec = new ExecCounters
    spark.sparkContext.addSparkListener(ec)
    val pt = new PlanTimes
    spark.listenerManager.register(pt)
    (ec, pt)
  }
}
