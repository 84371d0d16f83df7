package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the harness sets on the driver thread around each
  * op; Spark copies them into every job the op submits, which is how
  * jobs, stages and tasks are attributed to ops. */
object OpProps {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase" // "build" while the frame is built, else "run"

  def get(p: java.util.Properties, key: String): String =
    if (p == null) null else p.getProperty(key)
}

/** The counters every run keeps, traced or not: executor task CPU,
  * input rows, and the jobs each op submitted while building its
  * frame (eager jobs) and while running it. */
final class Counters extends SparkListener {
  val cpuNs = new AtomicLong
  val inputRows = new AtomicLong
  private val jobs = new ConcurrentHashMap[String, AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = OpProps.get(e.properties, OpProps.Op) + "/" + OpProps.get(e.properties, OpProps.Phase)
    jobs.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def jobsOf(op: Int, phase: String): Long =
    Option(jobs.remove(s"$op/$phase")).map(_.get).getOrElse(0L)
}

/** Task-metric sums of one stage (all attempts). */
final class StageAgg(val stageId: Int, val jobId: Int) {
  var name = ""
  var submitMs = Long.MaxValue
  var completeMs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var deserCpuNs = 0L
  var resultBytes = 0L
  var delayMs = 0L
  var shWriteBytes = 0L
  var shWriteRecords = 0L
  var shWriteNs = 0L
  var shReadBytes = 0L
  var shReadRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var diskSpillBytes = 0L
  var peakExecBytes = 0L
  var inBytes = 0L
  var inRows = 0L
  var outRows = 0L

  def add(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      deserCpuNs += m.executorDeserializeCpuTime
      resultBytes += m.resultSize
      shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      shWriteNs += m.shuffleWriteMetrics.writeTime
      shReadBytes += m.shuffleReadMetrics.totalBytesRead
      shReadRecords += m.shuffleReadMetrics.recordsRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.memoryBytesSpilled
      diskSpillBytes += m.diskBytesSpilled
      peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
      inBytes += m.inputMetrics.bytesRead
      inRows += m.inputMetrics.recordsRead
      outRows += m.outputMetrics.recordsWritten
      if (info != null && info.finishTime > 0) {
        val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        delayMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting)
      }
    }
  }
}

final case class JobSpan(jobId: Int, op: Int, phase: String, startMs: Long, var endMs: Long)

/** One finished SQL execution: its planning phases (epoch ms) and the
  * metrics of every file write it performed. */
final case class QeEvent(funcName: String, phases: Seq[(String, Long, Long)],
                         writes: Seq[Map[String, Long]])

/** The traced run's listener: job, stage and task events (a
  * SparkListener) plus planning phases and write statistics of every
  * SQL execution (a QueryExecutionListener). It records only while
  * `enabled`; the harness flips it between passes, after draining the
  * bus, so untraced passes of the same run pay nothing. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  val jobs = new ConcurrentHashMap[Int, JobSpan]
  val stages = new ConcurrentHashMap[Int, StageAgg]
  val qes = new ConcurrentLinkedQueue[QeEvent]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val op = OpProps.get(e.properties, OpProps.Op)
    if (op != null) {
      jobs.put(e.jobId, JobSpan(e.jobId, op.toInt,
        OpProps.get(e.properties, OpProps.Phase), e.time, e.time))
      e.stageIds.foreach(s => stages.putIfAbsent(s, new StageAgg(s, e.jobId)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val s = stages.get(e.stageInfo.stageId)
    if (s != null) s.synchronized {
      s.name = e.stageInfo.name
      e.stageInfo.submissionTime.foreach(t => s.submitMs = math.min(s.submitMs, t))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val s = stages.get(e.stageInfo.stageId)
    if (s != null) s.synchronized {
      e.stageInfo.submissionTime.foreach(t => s.submitMs = math.min(s.submitMs, t))
      e.stageInfo.completionTime.foreach(t => s.completeMs = math.max(s.completeMs, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val s = stages.get(e.stageId)
    if (s != null) s.add(e.taskInfo, e.taskMetrics)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (enabled) record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val ws = scala.util.Try(writesOf(qe.executedPlan)).getOrElse(Nil)
    qes.add(QeEvent(funcName, phases, ws))
    ()
  }

  private def writesOf(p: SparkPlan): Seq[Map[String, Long]] = p match {
    case d: DataWritingCommandExec =>
      Map(d.cmd.metrics.toSeq.map { case (k, m) => k -> m.value }: _*) +: writesOf(d.child)
    case a: AdaptiveSparkPlanExec => writesOf(a.executedPlan)
    case c: CommandResultExec => writesOf(c.commandPhysicalPlan)
    case q: QueryStageExec => writesOf(q.plan)
    case other => other.children.flatMap(writesOf)
  }

  /** Remove and return everything recorded for `op`. */
  def take(op: Int): (Seq[JobSpan], Seq[StageAgg], Seq[QeEvent]) = {
    val js = jobs.values.asScala.filter(_.op == op).toSeq.sortBy(_.jobId)
    js.foreach(j => jobs.remove(j.jobId))
    val ids = js.map(_.jobId).toSet
    val ss = stages.values.asScala.filter(s => ids(s.jobId)).toSeq.sortBy(_.stageId)
    ss.foreach(s => stages.remove(s.stageId))
    val q = Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
    (js, ss, q)
  }
}
