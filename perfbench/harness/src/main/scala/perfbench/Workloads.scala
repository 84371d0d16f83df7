package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ParallelUtilities
import graft.functions.ReduceOp
import graft.operators.PMapReduce
import graft.plans.{PRange, ProductSlice}

/** Everything a workload needs from the run. */
final class Run(val spark: SparkSession, val h: Harness, val seed: Long,
                val dir: String, val out: String, val plant: Boolean) {
  val oracles = mutable.LinkedHashMap[String, String]()
  val notes = mutable.LinkedHashMap[String, Any]()
  private lazy val oracleSql = graft.SparkEntry.oracleSql
  private var dumps = 0

  /** One gate-shaped op: build the frame (timed as the build span),
    * then force it through the noop sink — or, in the check pass,
    * write it to parquet for the runner to compare with the DuckDB
    * result of `checkGate`'s oracle SQL. */
  def frameOp(name: String, phase: String, pass: Int, checkGate: String)
             (frame: => DataFrame): OpRecord = {
    val dump = if (phase == "check") { dumps += 1; s"$out/dump/${dumps}_$name" } else null
    val rec = h.run(name, phase, pass) { ctx =>
      val df = ctx.build(frame)
      if (dump != null) df.write.mode("overwrite").parquet(dump)
      else df.write.format("noop").mode("overwrite").save()
    }
    if (dump != null) { rec.checkGate = checkGate; rec.checkDump = dump }
    // query-scoped caches never outlive the op: the next op, like a
    // user's next job, starts from its inputs
    spark.catalog.clearCache()
    rec
  }

  def gate(name: String, phase: String, pass: Int): OpRecord = {
    val fn = graft.SparkEntry.queries(name)
    oracleSql.get(name).foreach(oracles(name) = _)
    frameOp(name, phase, pass, name)(fn(spark, dir))
  }

  /** The two planted ops of the benchmark's own tests: one throws, one
    * returns 10 rows where its oracle expects 11. */
  def planted(phase: String, pass: Int): Unit = if (plant) {
    h.run("planted_throw", phase, pass)(_ => throw new IllegalStateException("planted failure"))
    oracles("planted_wrong") = "SELECT range AS id FROM range(0, 11)"
    frameOp("planted_wrong", phase, pass, "planted_wrong")(spark.range(0, 10).toDF("id"))
    ()
  }
}

trait Workload {
  /** Nominal seconds of one timed pass on a 4-core box; `--seconds`
    * divided by it fixes the number of timed passes, so every run of a
    * workload — parent or change, fast or slow — does the same work. */
  def passSeconds: Double
  /** Untimed passes after the check pass, for JIT warm-up. */
  def warmupPasses: Int = 0
  def setup(r: Run): Unit = ()
  def pass(r: Run, phase: String, pass: Int): Unit
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "catalog_sf0.1" => Catalog
    case "pipelines_sf1" => Pipelines
    case "pu_core" => PuCore
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Per-query fixed cost across the operator families: a fixed
  * cross-family sample of the catalog gates, seed-permuted each pass. */
object Catalog extends Workload {
  val passSeconds = 3.0
  override val warmupPasses = 2
  val gates: Seq[String] = Seq("q_above_avg", "q_window_funcs", "dd_incremental", "knn_ann",
    "mm_frames", "txt_tokens")

  def pass(r: Run, phase: String, pass: Int): Unit = {
    new scala.util.Random(r.seed * 1000003L + pass).shuffle(gates)
      .foreach(g => r.gate(g, phase, pass))
    r.planted(phase, pass)
  }
}

/** A read-only user pipeline on the seeded sf1 tier. */
object Pipelines extends Workload {
  val passSeconds = 3.6
  // the first pass after the cold check pass still runs partly
  // interpreted: ~10% more task CPU and ~40% more driver CPU
  override val warmupPasses = 1

  def pass(r: Run, phase: String, pass: Int): Unit = {
    r.gate("pipe_e2e", phase, pass)
    r.planted(phase, pass)
  }
}

/** The paper's own surface: driver-side point queries on a
  * 4x10^10-element ProductSplit and pmapreduce over array payloads. */
object PuCore extends Workload {
  val passSeconds = 0.5
  override val warmupPasses = 4
  val N = 100000L
  val Np = 25000
  val Batch = 16384
  val Mini = 16
  val PayloadLen = 100000
  val ConcatLen = 1000
  val MapElems = 224L
  val MapRanks = 32
  private val iters = IndexedSeq.fill(3)(ParallelUtilities.range(1L, N))

  private var p = 1
  private var ps: ProductSlice = _
  private var pts: Array[IndexedSeq[Double]] = _
  private var locals: Array[Long] = _
  private var dims: Array[Int] = _

  // closed-form reference of the split law and the radix decode
  private def total = N * N * N
  private def span(np: Int, rank: Int): (Long, Long) = {
    val d = total / np
    val rem = total % np
    val first = d * (rank - 1) + math.min(rem, rank - 1L)
    (first, d * rank + math.min(rem, rank.toLong) - 1)
  }
  private def decode(flat: Long): IndexedSeq[Double] =
    scala.collection.immutable.ArraySeq(
      (1 + flat % N).toDouble, (1 + flat / N % N).toDouble, (1 + flat / (N * N)).toDouble)
  private def flatOf(v: IndexedSeq[Double]): Long =
    (v(0).toLong - 1) + (v(1).toLong - 1) * N + (v(2).toLong - 1) * N * N

  override def setup(r: Run): Unit = {
    val rng = new scala.util.Random(r.seed)
    p = 1 + rng.nextInt(Np)
    ps = ParallelUtilities.productSplit(iters, Np, p)
    val (first, last) = span(Np, p)
    def below(n: Long) = (rng.nextLong() & Long.MaxValue) % n
    // half the points inside this rank's slice, half anywhere
    pts = Array.tabulate(Batch)(i =>
      decode(if (i % 2 == 0) first + below(last - first + 1) else below(total)))
    locals = Array.fill(Batch)(1 + below(last - first + 1))
    dims = Array.fill(Batch)(1 + rng.nextInt(3))
    r.notes("rank") = p
    r.notes("slice_length") = ps.length
  }

  /** One batch of point queries, timed in mini-batches of `Mini`
    * queries (a single ~100 ns call is below the clock's resolution);
    * every answer is kept for the check. */
  private def pointOp(r: Run, name: String, phase: String, pass: Int)
                     (q: Int => Long)(ref: Int => Long): Unit = {
    val got = new Array[Long](Batch)
    val samples = new Array[Double](Batch / Mini)
    val alloc = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    var bytes = 0L
    val rec = r.h.run(name, phase, pass) { _ =>
      val a0 = alloc.getThreadAllocatedBytes(tid)
      var m = 0
      while (m < samples.length) {
        val t0 = System.nanoTime()
        var i = m * Mini
        val end = i + Mini
        while (i < end) { got(i) = q(i); i += 1 }
        samples(m) = (System.nanoTime() - t0).toDouble / Mini
        m += 1
      }
      bytes = alloc.getThreadAllocatedBytes(tid) - a0
    }
    rec.counts("queries") = Batch.toDouble
    rec.counts("alloc_bytes_per_query") = bytes.toDouble / Batch
    rec.samples = samples
    val bad = (0 until Batch).find(i => got(i) != ref(i))
    bad.foreach(i => rec.fail(s"$name(${pts(i)}) = ${got(i)}, reference ${ref(i)}"))
  }

  private def b(x: Boolean): Long = if (x) 1L else 0L

  /** ProductSplit point queries against brute-force enumeration of a
    * small product, every rank and dimension. */
  private def bruteForce(): Option[String] = {
    val small = IndexedSeq(PRange(1L, 7L), PRange(1L, 5L), PRange(2L, 5L))
    val all = for (z <- 2 to 5; y <- 1 to 5; x <- 1 to 7)
      yield IndexedSeq(x.toDouble, y.toDouble, z.toDouble)
    val np = 6
    val problems = for {
      rank <- 1 to np
      sl = ParallelUtilities.productSplit(small, np, rank)
      d = all.size / np
      first = d * (rank - 1) + math.min(all.size % np, rank - 1)
      mine = all.slice(first, d * rank + math.min(all.size % np, rank))
      (v, i) <- all.zipWithIndex
      if sl.contains(v) != mine.contains(v) ||
        (mine.contains(v) && sl.localIndex(v) != Some(mine.indexOf(v) + 1L)) ||
        (mine.contains(v) && ParallelUtilities.whichProc(small, v, np) != Some(rank)) ||
        (i < mine.size && sl(i + 1L) != mine(i)) ||
        (0 until 3).exists(k => sl.nElements(k + 1) != mine.map(_(k)).distinct.size.toLong ||
          sl.extremaElement(k + 1) != ((mine.map(_(k)).min, mine.map(_(k)).max)))
    } yield s"rank $rank at $v"
    problems.headOption.map(x => s"brute-force mismatch: $x")
  }

  def pass(r: Run, phase: String, pass: Int): Unit = {
    val (first, last) = span(Np, p)
    def inside(i: Int) = { val f = flatOf(pts(i)); f >= first && f <= last }
    pointOp(r, "pq_contains", phase, pass)(i => b(ps.contains(pts(i))))(i => b(inside(i)))
    pointOp(r, "pq_local_index", phase, pass)(i => ps.localIndex(pts(i)).getOrElse(-1L))(i =>
      if (inside(i)) flatOf(pts(i)) - first + 1 else -1L)
    pointOp(r, "pq_which_proc", phase, pass)(i =>
      ParallelUtilities.whichProc(iters, pts(i), Np).map(_.toLong).getOrElse(-1L)) { i =>
      val f = flatOf(pts(i))
      val d = total / Np
      val rem = total % Np
      if (f < rem * (d + 1)) f / (d + 1) + 1 else rem + (f - rem * (d + 1)) / d + 1
    }
    val fv = decode(first)
    val lv = decode(last)
    def extremaRef(k: Int): (Long, Long) = {
      val rolls = (k + 1 until 3).exists(j => fv(j) != lv(j))
      if (k == 2 || !rolls) (fv(k).toLong, lv(k).toLong) else (1L, N)
    }
    pointOp(r, "pq_extrema", phase, pass) { i =>
      val (lo, hi) = ps.extremaElement(dims(i)); lo.toLong * (N + 1) + hi.toLong
    } { i => val (lo, hi) = extremaRef(dims(i) - 1); lo * (N + 1) + hi }
    pointOp(r, "pq_nelements", phase, pass)(i => ps.nElements(dims(i))) { i =>
      val w = math.pow(N.toDouble, dims(i) - 1.0).toLong
      math.min(N, last / w - first / w + 1)
    }
    pointOp(r, "pq_element_at", phase, pass)(i => flatOf(ps(locals(i))))(i => first + locals(i) - 1)
    if (phase == "check") bruteForce().foreach(r.h.records.last.fail)

    val elems = IndexedSeq(PRange(1L, MapElems))
    val m = MapElems.toDouble
    val len = PayloadLen
    val payload: IndexedSeq[Double] => Array[Double] = t => Array.tabulate(len)(i => t(0) + i)
    def sumCheck(v: Array[Double]): Option[String] =
      (0 until PayloadLen).find(i => v(i) != m * (m + 1) / 2 + m * i)
        .map(i => s"element $i = ${v(i)}, closed form ${m * (m + 1) / 2 + m * i}")
    pmrOp(r, "pmr_flat_elsum", phase, pass, PayloadLen)(
      PMapReduce.pmapreduce(r.spark, elems, MapRanks)(payload, ReduceOp.elementwiseSum))(sumCheck)
    pmrOp(r, "pmr_hostseg_elsum", phase, pass, PayloadLen)(
      PMapReduce.pmapreduceSegmented(r.spark, elems, MapRanks)(payload, ReduceOp.elementwiseSum,
        segments = Some(4)))(sumCheck)
    val clen = ConcatLen
    pmrOp(r, "pmr_ordered_concat", phase, pass, ConcatLen)(
      PMapReduce.pmapreduce(r.spark, elems, MapRanks)(
        t => Vector.tabulate(clen)(i => (t(0) - 1) * clen + i), ReduceOp.concat[Double])) {
      v => (0 until v.length).find(i => v(i) != i.toDouble).orElse(
        if (v.length == MapElems * ConcatLen) None else Some(-1))
        .map(i => s"concat out of order at $i (length ${v.length})")
    }
    r.planted(phase, pass)
  }

  private def pmrOp[B](r: Run, name: String, phase: String, pass: Int, perElem: Int)
                      (call: => B)(check: B => Option[String]): Unit = {
    var out: Option[B] = None
    val rec = r.h.run(name, phase, pass)(_ => out = Some(call))
    rec.counts("payload_bytes") = MapElems * perElem * 8.0
    rec.counts("partials") = MapRanks.toDouble
    rec.counts("elements") = MapElems.toDouble
    out.foreach(v => check(v).foreach(rec.fail))
  }
}
