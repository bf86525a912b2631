package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and counter store filled by the two listeners below.
  *
  * The listeners are attached from outside the program, through the
  * `spark.extraListeners` and `spark.sql.queryExecutionListeners` system
  * properties, so they also reach sessions the program builds for itself
  * (`EtlJobs.main`). Every record carries wall-clock milliseconds, the
  * clock Spark stamps its own events with; [[Trace.perOp]] attributes each
  * record to the op whose window contains it, after the run, when the
  * listener bus has drained.
  */
object Trace {
  /** layer: "stage" | "job" | "exec" | "analysis" | "optimization" |
    * "planning" | "appstart" (zero-length: the SparkContext is up). */
  final case class Span(layer: String, start: Long, end: Long)
  final case class TaskRec(end: Long, runMs: Long, inBytes: Long,
    inRecords: Long, outBytes: Long, shuffleWrite: Long, shuffleRead: Long,
    fetchWaitMs: Long, spillBytes: Long, resultBytes: Long)
  final case class BlockRec(at: Long, bytes: Long)

  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val blocks = new ConcurrentLinkedQueue[BlockRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  /** The listener instances of the live session; untraced passes of a
    * traced run detach them. */
  @volatile var sparkListener: Option[SparkTracer] = None
  @volatile var queryListener: Option[QueryTracer] = None

  def span(layer: String, start: Long, end: Long): Unit =
    if (end >= start) spans.add(Span(layer, start, end))

  private[perfbench] def onJobStart(id: Int, t: Long): Unit = jobStart.put(id, t)
  private[perfbench] def onJobEnd(id: Int, t: Long): Unit =
    Option(jobStart.remove(id)).foreach(s => span("job", s, t))
  private[perfbench] def onExecStart(id: Long, t: Long): Unit = execStart.put(id, t)
  private[perfbench] def onExecEnd(id: Long, t: Long): Unit =
    Option(execStart.remove(id)).foreach(s => span("exec", s, t))

  /** Total length of the union of intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Layer numbers of one op window [start, end] (ms). Self times split
    * the window by the innermost layer covering each instant, in the order
    * stage ⊂ job ⊂ Catalyst phase ⊂ SQL execution ⊂ op, so they add up to
    * the op wall; `self.driver_s` is the part no listener span covers (the
    * residual: round trips, client-side work, loop bookkeeping).
    */
  def perOp(start: Long, end: Long): Map[String, Double] = {
    def in(t: Long) = t >= start && t <= end
    val sp = spans.asScala.filter(s => in(s.start)).toSeq
    def clip(layers: Set[String]) = sp.filter(s => layers(s.layer))
      .map(s => (math.max(s.start, start), math.min(s.end, end)))
    val stage = unionMs(clip(Set("stage")))
    val job = unionMs(clip(Set("stage", "job")))
    val phases = Set("analysis", "optimization", "planning")
    val cat = unionMs(clip(Set("stage", "job") ++ phases))
    val exec = unionMs(clip(Set("stage", "job", "exec") ++ phases))
    // A session the op builds itself (EtlJobs.main) is up at its
    // application-start event; no job runs before it.
    val session = sp.filter(_.layer == "appstart").map(_.start - start)
      .minOption.getOrElse(0L)
    val wall = end - start
    val tk = tasks.asScala.filter(t => in(t.end)).toSeq
    val bk = blocks.asScala.filter(b => in(b.at)).toSeq
    def phase(p: String) = sp.filter(_.layer == p).map(s => s.end - s.start).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "wall_s" -> wall / 1e3,
      "session.build_s" -> session / 1e3,
      "catalyst.executions" -> sp.count(_.layer == "exec").toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "scheduler.jobs" -> sp.count(_.layer == "job").toDouble,
      "scheduler.stages" -> sp.count(_.layer == "stage").toDouble,
      "scheduler.tasks" -> tk.size.toDouble,
      "scheduler.task_s" -> tk.map(_.runMs).sum / 1e3,
      "scheduler.job_wall_s" -> unionMs(clip(Set("job"))) / 1e3,
      "sources.read_mb" -> tk.map(_.inBytes).sum / mb,
      "sources.rows_read" -> tk.map(_.inRecords).sum.toDouble,
      "sink.write_mb" -> tk.map(_.outBytes).sum / mb,
      "sink.files" -> tk.count(_.outBytes > 0).toDouble,
      "shuffle.write_mb" -> tk.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> tk.map(_.shuffleRead).sum / mb,
      "shuffle.fetch_wait_s" -> tk.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> tk.map(_.spillBytes).sum / mb,
      "staged.mb" -> bk.map(_.bytes).sum / mb,
      "staged.blocks" -> bk.size.toDouble,
      "driver.result_mb" -> tk.map(_.resultBytes).sum / mb,
      "self.stage_s" -> stage / 1e3,
      "self.job_s" -> (job - stage) / 1e3,
      "self.catalyst_s" -> (cat - job) / 1e3,
      "self.execution_s" -> (exec - cat) / 1e3,
      "self.session_s" -> session / 1e3,
      "self.driver_s" -> (wall - exec - session) / 1e3)
  }
}

/** Jobs, stages, tasks, SQL executions and staged blocks. Registered with
  * `-Dspark.extraListeners=perfbench.SparkTracer`. */
class SparkTracer extends SparkListener {
  Trace.sparkListener = Some(this)

  // The event's own time is when the SparkContext started; it is posted
  // when the context is up, so the receipt time marks the end of set-up.
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = {
    val now = System.currentTimeMillis()
    Trace.span("appstart", now, now)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.onJobStart(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.onJobEnd(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      Trace.span("stage", s, c)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      Trace.tasks.add(Trace.TaskRec(e.taskInfo.finishTime,
        m.executorRunTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.resultSize))
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      Trace.blocks.add(Trace.BlockRec(System.currentTimeMillis(),
        b.memSize + b.diskSize))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => Trace.onExecStart(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd => Trace.onExecEnd(s.executionId, s.time)
    case _ =>
  }
}

/** Catalyst phases of every query execution, staging and loop executions
  * included. Registered with
  * `-Dspark.sql.queryExecutionListeners=perfbench.QueryTracer`. */
class QueryTracer extends QueryExecutionListener {
  Trace.queryListener = Some(this)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing") Trace.span(name, p.startTimeMs, p.endTimeMs)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
