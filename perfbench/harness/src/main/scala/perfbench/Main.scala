package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak heap occupancy after garbage collection (the live set plus
  * what survived), from GC notifications while it runs. Raw peak heap
  * use mostly measures when the collector happened to run; the
  * after-collection peak measures what the workload keeps. Falls back
  * to the heap in use at `stop` when no collection ran. */
final class LiveHeap extends NotificationListener {
  private val peak = new AtomicLong
  @volatile private var on = true
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: Any): Unit =
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      peak.accumulateAndGet(used, math.max)
      ()
    }

  def stop(): Long = {
    on = false
    beans.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(this))
    val p = peak.get
    if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** One benchmark run inside one driver JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --out DIR [--plant] [--setup-only]
  *
  * With `--setup-only` it stops after set-up and records only the
  * set-up time, so the runner can take the median of several set-ups.
  * Set-up (session, listeners, workload inputs), then one untimed
  * check pass that also warms every op (JIT, codegen, parquet
  * readers), the workload's untimed warm-up passes, then a fixed
  * number of timed passes: `seconds` over the workload's nominal pass
  * time, at least two. With `--trace 1` odd passes
  * are traced and even passes are not, so one run gives both the
  * per-layer numbers and the tracing overhead. Writes `record.json`
  * (and `spans.jsonl` when traced) to `--out`; the runner turns it into
  * metrics after checking outputs. */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val plant = argv.contains("--plant")
    val setupOnly = argv.contains("--setup-only")
    val workloadName = a("workload")
    val workload = Workloads(workloadName)
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = a("out")
    Files.createDirectories(Paths.get(out))

    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.build(s"local[$cores]", cores, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val h = new Harness(spark.sparkContext, tracer)
    val sessionS = sinceStart
    val r = new Run(spark, h, a("seed").toLong, a("data"), out, plant)

    workload.setup(r)
    val setupS = sinceStart
    if (setupOnly) {
      Files.writeString(Paths.get(s"$out/record.json"), Json(Map(
        "setup_s" -> setupS,
        "setup_parts_s" -> Map("session" -> sessionS, "workload" -> (setupS - sessionS)))))
      spark.stop()
      return
    }

    val c0 = System.nanoTime()
    workload.pass(r, "check", 0)
    val checkS = (System.nanoTime() - c0) / 1e9

    (1 to workload.warmupPasses).foreach(w => workload.pass(r, "warmup", -w))

    val passes = math.max(2, math.round(seconds / workload.passSeconds).toInt)
    val heap = new LiveHeap
    val t0 = System.nanoTime()
    for (pass <- 1 to passes) {
      h.setTracing(trace && pass % 2 == 1)
      workload.pass(r, "timed", pass)
    }
    h.setTracing(false)
    val timedS = (System.nanoTime() - t0) / 1e9
    val peakHeapMb = heap.stop() / 1048576.0

    val sc = spark.sparkContext
    val record = Map(
      "workload" -> workloadName, "seed" -> r.seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "master" -> sc.master, "spark_version" -> spark.version,
      "setup_s" -> setupS,
      "setup_parts_s" -> Map("session" -> sessionS, "workload" -> (setupS - sessionS)),
      "check_s" -> checkS, "timed_s" -> timedS, "passes" -> passes,
      "peak_heap_mb" -> peakHeapMb,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "memory_store_bytes" -> sc.getExecutorMemoryStatus.values.map(_._1).sum,
      "notes" -> r.notes, "oracles" -> r.oracles,
      "ops" -> h.records.map(_.toMap))
    Files.writeString(Paths.get(s"$out/record.json"), Json(record))
    if (trace)
      Files.writeString(Paths.get(s"$out/spans.jsonl"), h.spans.map(Json(_)).mkString("", "\n", "\n"))
    spark.stop()
  }
}
