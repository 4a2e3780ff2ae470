package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double)

/** Counters of one query phase (`build` or `exec`). */
final class PhaseStats {
  var jobs, stages, tasks, failedTasks, retriedTasks = 0L
  var busyMs, fetchWaitMs, shuffleBytes, spillBytes, inputBytes = 0L
  var peakTaskMem, broadcastBytes = 0L
  def json: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "retried_tasks" -> retriedTasks,
    "busy_ms" -> busyMs, "fetch_wait_ms" -> fetchWaitMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "peak_task_mem" -> peakTaskMem,
    "broadcast_bytes" -> broadcastBytes)
}

/** Spans and counters for the traced run, fed by a SparkListener and a
  * QueryExecutionListener. Each query phase runs under its own job
  * group (`setJobGroup`), so every job, stage and task it starts is
  * charged to that phase's span. The listener bus is asynchronous:
  * [[drain]] waits until it has delivered every event posted so far. */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private var nextId = 0L
  val spans = mutable.ArrayBuffer[Span]()
  private val phases = mutable.Map[String, (Long, PhaseStats)]()
  private val stagePhase = mutable.Map[Int, (PhaseStats, Long)]()
  private val jobStart = mutable.Map[Int, (Long, Double, Long)]()
  @volatile private var current: PhaseStats = null

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def newId(): Long = synchronized { nextId += 1; nextId }

  def span(parent: Long, kind: String, name: String, start: Double,
           end: Double, id: Long = newId()): Long = synchronized {
    spans += Span(id, parent, kind, name, start, end); id
  }

  /** Runs `body` as phase span `kind` of query span `parent`; its jobs
    * carry the phase's span id as their job group. */
  def phase[T](parent: Long, kind: String, name: String)(body: => T)
    : (T, PhaseStats) = {
    val id = newId()
    val st = new PhaseStats
    synchronized { phases(id.toString) = (id, st) }
    current = st
    sc.setJobGroup(id.toString, s"$name:$kind", interruptOnCancel = false)
    val start = nowMs
    try {
      val r = body
      (r, st)
    } finally {
      val end = nowMs
      sc.clearJobGroup()
      drain()
      current = null
      span(parent, kind, name, start, end, id)
    }
  }

  /** Charges the jobs of job group `group` (a streaming query's run id)
    * to span `parent`. */
  def watch(group: String, parent: Long): PhaseStats = synchronized {
    val st = new PhaseStats
    phases(group) = (parent, st)
    st
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(phases.get).foreach { case (pid, st) =>
        st.jobs += 1
        val jid = newId()
        jobStart(e.jobId) = (pid, e.time.toDouble, jid)
        e.stageIds.foreach(s => stagePhase(s) = (st, jid))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (pid, start, id) =>
      spans += Span(id, pid, "job", s"job${e.jobId}", start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stagePhase.get(info.stageId).foreach { case (st, jid) =>
        st.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          spans += Span(newId(), jid, "stage", s"stage${info.stageId}",
            s.toDouble, c.toDouble)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(e.stageId).foreach { case (st, _) =>
      st.tasks += 1
      if (e.reason != org.apache.spark.Success)
        st.failedTasks += 1
      if (e.taskInfo.attemptNumber > 0) st.retriedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.busyMs += m.executorRunTime
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.peakTaskMem = math.max(st.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val st = current
    if (st != null) {
      val bytes = collectWithSubqueries(qe.executedPlan) {
        case b: BroadcastExchangeExec =>
          b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      synchronized { st.broadcastBytes += bytes }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** JVM-wide counters read around each traced query. */
object JvmCounters {
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  /** (compilations, estimated total ms) of whole-stage codegen. The
    * histogram keeps a decaying sample, so the total is count × mean. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
  def heapUsedAfterGcMb: Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}
