package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed call. `phase` is "check" for the untimed check/warm-up
  * pass and "timed" for measured passes. A failed op keeps its error
  * and is left out of every timing and per-layer total downstream. */
final class OpRecord(val id: Int, val name: String, val phase: String, val pass: Int) {
  var wallS = 0.0
  var taskCpuS = 0.0
  var driverCpuS = 0.0
  var inputRows = 0L
  var jobs = 0L
  var eagerJobs = 0L
  var status = "ok"
  var error: String = null
  var traced = false
  /** Gate whose DuckDB oracle checks this op, and the parquet dump of
    * the op's output the runner compares against it. */
  var checkGate: String = null
  var checkDump: String = null
  /** Work units the op processed (queries in a batch, payload bytes). */
  val counts = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Per-query times (ns) of a point-query batch, one per mini-batch. */
  var samples: Array[Double] = null

  def fail(why: String): Unit = if (status == "ok") { status = "failed"; error = why }

  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "phase" -> phase, "pass" -> pass,
    "wall_s" -> wallS, "task_cpu_s" -> taskCpuS, "driver_cpu_s" -> driverCpuS,
    "input_rows" -> inputRows, "jobs" -> jobs, "eager_jobs" -> eagerJobs,
    "status" -> status, "error" -> error, "traced" -> traced,
    "check_gate" -> checkGate, "check_dump" -> checkDump,
    "counts" -> counts, "layers" -> layers, "samples_ns" -> Option(samples))
}

/** What an op body can mark: the frame-build part of the op. */
final class OpCtx(sc: SparkContext) {
  var buildStartNs = 0L
  var buildEndNs = 0L

  def build[T](body: => T): T = {
    sc.setLocalProperty(OpProps.Phase, "build")
    buildStartNs = System.nanoTime()
    try body
    finally {
      buildEndNs = System.nanoTime()
      sc.setLocalProperty(OpProps.Phase, "run")
    }
  }
}

/** Runs ops one at a time on the calling (driver) thread — a closed
  * loop with one client — and records each. */
final class Harness(sc: SparkContext, val tracer: Option[Tracer]) {
  val counters = new Counters
  sc.addSparkListener(counters)
  val records = mutable.ArrayBuffer[OpRecord]()
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val threads = ManagementFactory.getThreadMXBean
  // epoch-ms clock for nanoTime stamps, so op spans line up with the
  // millisecond timestamps Spark puts on its events
  private val nanoOrigin = System.nanoTime()
  private val msOrigin = System.currentTimeMillis().toDouble

  def epochMs(nanos: Long): Double = msOrigin + (nanos - nanoOrigin) / 1e6

  def drain(): Unit = ListenerBusDrain.drain(sc)

  def setTracing(on: Boolean): Unit = tracer.foreach { t => drain(); t.enabled = on }

  def tracing: Boolean = tracer.exists(_.enabled)

  def run(name: String, phase: String, pass: Int)(body: OpCtx => Unit): OpRecord = {
    val rec = new OpRecord(records.size, name, phase, pass)
    records += rec
    val ctx = new OpCtx(sc)
    val traced = tracing
    drain()
    val cpu0 = counters.cpuNs.get
    val rows0 = counters.inputRows.get
    val cg0 = if (traced) codegen() else (0L, 0L)
    sc.setLocalProperty(OpProps.Op, rec.id.toString)
    sc.setLocalProperty(OpProps.Phase, "run")
    val dcpu0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try body(ctx)
    catch {
      case e: Throwable if NonFatal(e) || e.isInstanceOf[LinkageError] =>
        rec.fail(s"${e.getClass.getName}: ${e.getMessage}".take(2000))
    }
    val t1 = System.nanoTime()
    val dcpu1 = threads.getCurrentThreadCpuTime
    sc.setLocalProperty(OpProps.Op, null)
    sc.setLocalProperty(OpProps.Phase, null)
    drain()
    rec.wallS = (t1 - t0) / 1e9
    rec.driverCpuS = (dcpu1 - dcpu0) / 1e9
    rec.taskCpuS = (counters.cpuNs.get - cpu0) / 1e9
    rec.inputRows = counters.inputRows.get - rows0
    rec.eagerJobs = counters.jobsOf(rec.id, "build")
    rec.jobs = rec.eagerJobs + counters.jobsOf(rec.id, "run")
    if (traced) tracer.foreach { t =>
      val cg1 = codegen()
      rec.traced = true
      rec.layers("plans.codegen_classes") = (cg1._1 - cg0._1).toDouble
      rec.layers("plans.codegen_s") = (cg1._2 - cg0._2) / 1e3
      attribute(rec, t, t0, t1, ctx)
    }
    rec
  }

  /** (compilations, total compile ms) of whole-stage/expression codegen
    * in this JVM. The histogram keeps every sample while the JVM has
    * compiled fewer than its reservoir size (1028), which a run stays
    * under; beyond that the sum is the sampled mean times the count. */
  private def codegen(): (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val vals = snap.getValues
    val sum = if (vals.length.toLong == n) vals.sum else (snap.getMean * n).toLong
    (n, sum)
  }

  /** Splits the op's wall time into layers by sweeping its interval:
    * each instant goes to the innermost thing running — a job, else a
    * planning phase, else the frame build, else the residual. The
    * parts therefore add up to the op's wall time exactly. Also sums
    * the op's stage task metrics and writes its spans. */
  private def attribute(rec: OpRecord, t: Tracer, t0: Long, t1: Long, ctx: OpCtx): Unit = {
    val (jobs, stages, qes) = t.take(rec.id)
    val a = epochMs(t0)
    val b = epochMs(t1)
    val hasBuild = ctx.buildEndNs > ctx.buildStartNs
    val (ba, bb) = if (hasBuild) (epochMs(ctx.buildStartNs), epochMs(ctx.buildEndNs)) else (a, a)
    def clip(x: Double) = math.min(b, math.max(a, x))
    val phases = for {
      q <- qes
      (n, s, e) <- q.phases
      if n != "parsing" && clip(e.toDouble) > clip(s.toDouble)
    } yield (n, clip(s.toDouble), clip(e.toDouble))
    val jobIv = jobs.map(j => ("job", clip(j.startMs.toDouble), clip(j.endMs.toDouble)))
      .filter(x => x._3 > x._2)
    val buildIv = if (hasBuild) Seq(("build", ba, bb)) else Nil
    val order = Seq("job", "analysis", "optimization", "planning", "build")
    val ivs = jobIv ++ phases ++ buildIv
    val cuts = (Seq(a, b) ++ ivs.flatMap(x => Seq(x._2, x._3))).distinct.sorted
    val part = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(x, y) if y > x =>
        val m = (x + y) / 2
        val label = order.find(l => ivs.exists(iv => iv._1 == l && iv._2 <= m && m < iv._3))
          .getOrElse("residual")
        part(label) += (y - x) / 1e3
      case _ => ()
    }
    val L = rec.layers
    L("queries.build_s") = part("build")
    L("queries.eager_jobs") = rec.eagerJobs.toDouble
    L("plans.analysis_s") = part("analysis")
    L("plans.optimization_s") = part("optimization")
    L("plans.planning_s") = part("planning")
    L("trace.job_s") = part("job")
    L("trace.residual_s") = part("residual")
    L("trace.identity_err_s") =
      math.abs(rec.wallS - part.values.sum)
    L("scheduler.jobs") = jobs.size.toDouble
    L("scheduler.stages") = stages.count(_.tasks > 0).toDouble
    L("scheduler.tasks") = stages.map(_.tasks).sum.toDouble
    L("scheduler.delay_s") = stages.map(_.delayMs).sum / 1e3
    L("scheduler.driver_gap_s") = rec.wallS - part("job")
    val stageCpu = stages.map(_.cpuNs).sum / 1e9
    L("executor.cpu_s") = stageCpu
    L("executor.run_s") = stages.map(_.runMs).sum / 1e3
    L("executor.gc_s") = stages.map(_.gcMs).sum / 1e3
    L("executor.deser_cpu_s") = stages.map(_.deserCpuNs).sum / 1e9
    L("executor.result_bytes") = stages.map(_.resultBytes).sum.toDouble
    L("trace.cpu_match_err_pct") =
      if (rec.taskCpuS > 0) math.abs(stageCpu - rec.taskCpuS) / rec.taskCpuS * 100 else 0.0
    L("shuffle.write_bytes") = stages.map(_.shWriteBytes).sum.toDouble
    L("shuffle.read_bytes") = stages.map(_.shReadBytes).sum.toDouble
    L("shuffle.records") = stages.map(_.shWriteRecords).sum.toDouble
    L("shuffle.fetch_wait_s") = stages.map(_.fetchWaitMs).sum / 1e3
    L("shuffle.write_s") = stages.map(_.shWriteNs).sum / 1e9
    L("memory.spill_bytes") = stages.map(_.spillBytes).sum.toDouble
    L("memory.disk_spill_bytes") = stages.map(_.diskSpillBytes).sum.toDouble
    L("memory.peak_exec_bytes") = (0L +: stages.map(_.peakExecBytes)).max.toDouble
    L("sources.input_bytes") = stages.map(_.inBytes).sum.toDouble
    L("sources.input_rows") = stages.map(_.inRows).sum.toDouble
    val writes = qes.flatMap(_.writes)
    def wsum(k: String) = writes.map(_.getOrElse(k, 0L)).sum
    L("sinks.files_written") = wsum("numFiles").toDouble
    L("sinks.bytes_written") = wsum("numOutputBytes").toDouble
    L("sinks.rows_written") = wsum("numOutputRows").toDouble
    L("sinks.task_commit_s") = wsum("taskCommitTime") / 1e3
    L("sinks.job_commit_s") = wsum("jobCommitTime") / 1e3

    // spans: op -> build -> {phases, eager jobs}; op -> {phases, jobs}; job -> stage
    val opSpan = s"op${rec.id}"
    def span(id: String, parent: String, kind: String, name: String, s: Double, e: Double) =
      spans += Map("id" -> id, "parent" -> parent, "op" -> rec.id, "kind" -> kind,
        "name" -> name, "start_ms" -> s, "end_ms" -> e)
    span(opSpan, null, "op", rec.name, a, b)
    val buildSpan = if (hasBuild) { span(s"$opSpan.build", opSpan, "build", rec.name, ba, bb); s"$opSpan.build" } else opSpan
    def parentOf(s: Double) = if (hasBuild && ba <= s && s < bb) buildSpan else opSpan
    phases.zipWithIndex.foreach { case ((n, s, e), i) =>
      span(s"$opSpan.p$i", parentOf(s), n, n, s, e)
    }
    jobs.foreach { j =>
      span(s"job${j.jobId}", if (j.phase == "build") buildSpan else opSpan, "job",
        s"job ${j.jobId}", j.startMs.toDouble, j.endMs.toDouble)
    }
    stages.filter(_.tasks > 0).foreach { s =>
      spans += Map("id" -> s"stage${s.stageId}", "parent" -> s"job${s.jobId}", "op" -> rec.id,
        "kind" -> "stage", "name" -> s.name, "start_ms" -> s.submitMs.toDouble,
        "end_ms" -> s.completeMs.toDouble, "tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9,
        "run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
        "shuffle_write_bytes" -> s.shWriteBytes, "shuffle_read_bytes" -> s.shReadBytes,
        "spill_bytes" -> s.spillBytes, "input_rows" -> s.inRows, "output_rows" -> s.outRows)
    }
  }
}
