package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine counters for one scope (a pipeline pass or one query entry). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var planMs = 0L
  var batches = 0L
  val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall milliseconds covered by at least one running stage. */
  def activeMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    stageSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** Process-wide trace sink the listeners below write into. Recording is off
  * unless a traced step is running; `scope` names the step. */
object Trace {
  @volatile var on = false
  @volatile var scope = ""
  private val byScope = mutable.Map.empty[String, Counters]

  def apply(scope: String): Counters = synchronized(byScope.getOrElseUpdate(scope, new Counters))
  def update(f: Counters => Unit): Unit =
    if (on) synchronized(f(byScope.getOrElseUpdate(scope, new Counters)))
}

/** Registered through `spark.extraListeners`, so it also attaches to the
  * session the CLI builds for itself. */
class EngineListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.update(_.jobs += 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.update { c =>
    c.stages += 1
    for (s <- e.stageInfo.submissionTime; t <- e.stageInfo.completionTime) c.stageSpans += ((s, t))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.update { c =>
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }
}

/** Planning time (analysis, optimization, physical planning) from each
  * execution's phase tracker. */
class PlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = Trace.update { c =>
    qe.tracker.phases.values.foreach(p => c.planMs += p.durationMs)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch phase split of the streaming entries. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.update { c =>
    c.batches += 1
    e.progress.durationMs.forEach((k, v) => c.phases(k) += v.longValue)
  }
}
