package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.functions.{BroadcastStack, OffsetArrayND, ReduceOp}
import graft.operators.PMapReduce._
import graft.plans.{PRange, ProductIndexMath}
import graft.sources.ProductSplitSource

/** Differential tests of the distributed execution operators against
  * serial oracles — the reference's dominant test pattern
  * (/root/reference/test/paralleltests.jl:491-671). */
class PMapReduceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pmapreduce-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val npSweep = Seq(1, 2, 4, 8)

  test("flagship: pmapreduce(x => x*x, +, 1:100_000) == 333338333350000") {
    for (np <- npSweep) {
      val got = pmapreduce(spark, IndexedSeq(PRange(1, 100000)), np)(
        v => v(0).toLong * v(0).toLong, ReduceOp.commutative[Long](_ + _))
      assert(got == 333338333350000L, s"np=$np")
    }
  }

  test("pmapreduce vs serial mapreduce with init (paralleltests.jl:492-499)") {
    for (np <- npSweep; init <- Seq(None, Some(100L))) {
      val got = pmapreduce(spark, IndexedSeq(PRange(1, 10)), np)(
        v => v(0).toLong * v(0).toLong, ReduceOp.commutative[Long](_ + _), init)
      val want = (1L to 10L).map(x => x * x).sum + init.getOrElse(0L)
      assert(got == want, s"np=$np init=$init")
    }
  }

  test("zip-mode pmapreduce (x,y) => x*y over (1:10, 2:2:20) (paralleltests.jl:516-544)") {
    val iters = IndexedSeq(PRange(1, 10), PRange.stepped(2, 2, 20))
    val want = (1 to 10).map(x => x.toLong * (2 * x)).sum
    for (np <- npSweep) {
      val got = pmapreduce(spark, iters, np)(
        v => (v(0) * v(1)).toLong, ReduceOp.commutative[Long](_ + _))
      assert(got == want, s"np=$np")
    }
  }

  test("product-mode pmapreduce over product(1:5, 2:4)") {
    val iters = IndexedSeq(PRange(1, 5), PRange(2, 4))
    val want = (for (y <- 2 to 4; x <- 1 to 5) yield x.toLong * y).sum
    for (np <- npSweep) {
      val got = pmapreduceProduct(spark, iters, np)(
        v => (v(0) * v(1)).toLong, ReduceOp.commutative[Long](_ + _))
      assert(got == want, s"np=$np")
    }
  }

  test("dict merge reduction (paralleltests.jl:502-514)") {
    for (np <- Seq(1, 4)) {
      val got = pmapreduce(spark, IndexedSeq(PRange(1, 200)), np)(
        v => Map(v(0).toLong -> v(0).toLong), ReduceOp.mergeMaps[Long, Long])
      assert(got == (1L to 200L).map(x => x -> x).toMap, s"np=$np")
    }
  }

  test("non-commutative vcat preserves rank order (docs/src/pmapreduce.md:79-89)") {
    // pmapreduce_productsplit(collect, vcat, 1:3, 1:2): 6 tuples reverse-lex
    val iters = IndexedSeq(PRange(1, 3), PRange(1, 2))
    val want = ProductIndexMath.productSplit(iters, 1, 1).toVector
    for (np <- npSweep) {
      val got = pmapreduceProductSplit(spark, iters, np)(
        ps => ps.toVector, ReduceOp.concat[IndexedSeq[Double]])
      assert(got == want, s"np=$np")
    }
  }

  test("rank-sensitive hcat-style op (docs/src/pmapreduce.md:105-109)") {
    // f(ps) = [rank of first element's owner]; concat must come out rank-ordered
    val iters = IndexedSeq(PRange(1, 97)) // 97 not divisible: remainder law exercised
    for (np <- npSweep) {
      val npEff = math.min(np, 97)
      val got = pmapreduceProductSplit(spark, iters, np)(
        ps => Vector(ps.firstFlat), ReduceOp.concat[Long])
      val want = (1 to npEff).map(p => ProductIndexMath.dropTake(97, npEff, p)._1).toVector
      assert(got == want, s"np=$np")
    }
  }

  test("elementwise in-place array reductions vs allocating oracle (paralleltests.jl:555-571)") {
    for (np <- npSweep) {
      val sum = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 20)), np)(
        ps => Array.fill(2)(ps.length.toDouble), ReduceOp.elementwiseSum)
      // each rank contributes [len, len]; total = 20
      assert(sum.toVector == Vector(20.0, 20.0), s"np=$np sum")
      val mx = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 20)), np)(
        ps => Array(ps.firstElement(0), ps.lastElement(0)), ReduceOp.elementwiseMax)
      assert(mx(1) == 20.0, s"np=$np max")
    }
  }

  test("host-segmented reduce equals treeReduce path for every segment count (trees.jl:42-63)") {
    for (np <- npSweep; segs <- Seq(1, 2, 4, 7, 64)) {
      val got = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 50)), np)(
        t => Array(t(0), t(0) * t(0)), ReduceOp.elementwiseSum,
        segments = Some(segs))
      // serial oracle: sum 1..50 = 1275, sum of squares = 42925
      assert(got.toVector == Vector(1275.0, 42925.0), s"np=$np segs=$segs")
      val withInit = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 50)), np)(
        t => Array(t(0), 0.0), ReduceOp.elementwiseSum,
        init = Some(Array(1000.0, 0.0)), segments = Some(segs))
      assert(withInit(0) == 2275.0, s"init once, np=$np segs=$segs")
    }
    // defaults to the real host count (1 in local mode) when unset
    val auto = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 10)), 4)(
      t => Array(t(0)), ReduceOp.elementwiseSum)
    assert(auto.toVector == Vector(55.0))
  }

  test("host-segmented reduce keeps rank order for non-commutative ops (trees.jl:108-137)") {
    // ordered concat through every segment topology: the result must be
    // the identity permutation regardless of how ranks group into
    // segments — rank-contiguous segment assignment + in-segment sort
    // + min-rank segment fold reproduce the reference's segmented-tree
    // order exactly.
    for (np <- npSweep; segs <- Seq(1, 2, 4, 7, 64)) {
      val got = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 50)), np)(
        t => Vector(t(0).toLong), ReduceOp.concat[Long], segments = Some(segs))
      assert(got == (1L to 50L).toVector, s"np=$np segs=$segs")
    }
    // raw entry point: deliberately scrambled rank keys still fold 1..8
    val partials = spark.sparkContext
      .parallelize(Seq(5, 3, 8, 1, 7, 2, 6, 4), 8)
      .map(r => (r, Vector(r)))
    val folded = graft.operators.PMapReduce.hostSegmentedReduce(
      spark, partials, ReduceOp.concat[Int], segments = Some(3))
    assert(folded == (1 to 8).toVector)
  }

  test("BroadcastStack axis-union reduction on OffsetArrays (misctests_singleprocess.jl:55-63)") {
    // golden: BroadcastStack(min,1)(2*ones(2), 3*ones(3)) == [2,2,3]
    val a = OffsetArrayND(IndexedSeq((1, 2)), Array(2.0, 2.0))
    val b = OffsetArrayND(IndexedSeq((1, 3)), Array(3.0, 3.0, 3.0))
    assert(BroadcastStack(math.min, Set(1))(a, b).data.toVector == Vector(2.0, 2.0, 3.0))
    // golden: BroadcastStack(+,2)(2*ones(2,2), 3*ones(2,3)) == [5 5 3; 5 5 3]
    val c = OffsetArrayND(IndexedSeq((1, 2), (1, 2)), Array.fill(4)(2.0))
    val d = OffsetArrayND(IndexedSeq((1, 2), (1, 3)), Array.fill(6)(3.0))
    val st = BroadcastStack(_ + _, Set(2))(c, d)
    assert(st.axes == IndexedSeq((1, 2), (1, 3)))
    assert(st.data.toVector == Vector(5.0, 5.0, 5.0, 5.0, 3.0, 3.0))
    // offset axes: ones(2:4) + ones(3:5) -> overlap 3:4 combined, holes none
    val e = OffsetArrayND(IndexedSeq((2, 4)), Array(1.0, 1.0, 1.0))
    val g = OffsetArrayND(IndexedSeq((3, 5)), Array(1.0, 1.0, 1.0))
    val s2 = BroadcastStack(_ + _, Set(1))(e, g)
    assert(s2.axes == IndexedSeq((2, 5)) && s2.data.toVector == Vector(1.0, 2.0, 2.0, 1.0))
    // distributed: stack per-rank offset vectors along dim 1
    for (np <- Seq(2, 4)) {
      val got = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 8)), np)(
        ps => OffsetArrayND(IndexedSeq((ps.firstFlat.toInt + 1, ps.lastFlat.toInt + 1)),
          Array.fill(ps.length.toInt)(1.0)),
        BroadcastStack(_ + _, Set(1)))
      assert(got.axes == IndexedSeq((1, 8)) && got.data.toVector == Vector.fill(8)(1.0), s"np=$np")
    }
  }

  test("Flip pops and preserves commutativity (reductionfunctions.jl:238-269)") {
    val vcat = ReduceOp.concat[Int]
    val flipped = ReduceOp.flip(vcat)
    assert(flipped(Vector(2), Vector(3)) == Vector(3, 2))
    assert(ReduceOp.flip(flipped) eq vcat)
    assert(ReduceOp.flip(ReduceOp.commutative[Int](_ - _)).commutative)
  }

  test("pmapbatch ordered per-element concat (paralleltests.jl:661-671)") {
    for (np <- npSweep) {
      val got = pmapbatch(spark, IndexedSeq(PRange(1, 23)), np)(v => v(0).toLong * 2)
      assert(got == (1L to 23L).map(_ * 2).toVector, s"np=$np")
    }
  }

  test("pmapbatch_productsplit per-rank results in rank order") {
    val iters = IndexedSeq(PRange(1, 5), PRange(2, 4), PRange(1, 3))
    for (np <- npSweep) {
      val got = pmapbatchProductSplit(spark, iters, np)(ps => ps.length)
      val npEff = math.min(np, 45)
      assert(got == (1 to npEff).map(p => ProductIndexMath.dropTake(45, npEff, p)._2).toVector, s"np=$np")
    }
  }

  test("error in mapper propagates to driver (paralleltests.jl:644-659)") {
    val ex = intercept[Exception] {
      pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 10)), 4)(
        ps => { if (ps.firstFlat > 2) throw new RuntimeException("boom"); 1L },
        ReduceOp.commutative[Long](_ + _))
    }
    assert(ex.getMessage != null)
  }

  test("init law on the product-split path: applied once, after the distributed reduce") {
    for (np <- npSweep) {
      // Non-commutative concat with init: init must prepend exactly once
      // (reference init-once law, src/mapreduce.jl:110-117).
      val got = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 6)), np)(
        sl => Vector(sl.firstElement(0).toLong),
        ReduceOp.concat[Long], init = Some(Vector(-1L)))
      assert(got.head == -1L, s"np=$np: init must fold exactly once, first")
      assert(got.count(_ == -1L) == 1, s"np=$np: init folded more than once: $got")
      // Commutative sum with init over a multi-partition reduce.
      val sum = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 100)), np)(
        _.iterator.map(_(0).toLong).sum,
        ReduceOp.commutative[Long](_ + _), init = Some(1000L))
      assert(sum == 5050L + 1000L, s"np=$np")
    }
  }

  test("error thrown inside the reduce op propagates to the driver") {
    val ex = intercept[Exception] {
      pmapreduce(spark, IndexedSeq(PRange(1, 100)), 4)(
        v => v(0).toLong,
        ReduceOp.commutative[Long]((a, b) =>
          if (a + b > 50) throw new RuntimeException("reduce-boom") else a + b))
    }
    assert(ex.getMessage != null)
  }

  test("empty collection reduce throws (reference: reducing over an empty collection)") {
    intercept[IllegalArgumentException] {
      pmapreduce(spark, IndexedSeq(PRange(1L, 0L)), 4)(
        v => v(0), ReduceOp.commutative[Double](_ + _))
    }
  }

  test("typed productDS matches driver-side math and supports typed transforms") {
    import graft.sources.ProductSplitSource
    val iters = IndexedSeq(PRange(1L, 4L), PRange(2L, 3L))
    val ds = ProductSplitSource.productDS(spark, iters, 3)
    val rows = ds.collect().sortBy(_.id)
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.dims == graft.plans.ProductIndexMath.elementAt(iters, r.id))
      assert(r.rank == graft.plans.ProductIndexMath.rankOfIndex(8, 3, r.id))
    }
    // typed map over case-class fields
    import spark.implicits._
    val sums = ds.map(r => r.dims.sum).collect().sorted
    assert(sums.head == 3.0 && sums.last == 7.0)
  }

  test("productDF decode matches driver-side math; rank column matches split law") {
    import org.apache.spark.sql.functions.col
    val iters = IndexedSeq(PRange(1, 5), PRange(2, 4), PRange(1, 3))
    val np = 7
    val df = ProductSplitSource.productDF(spark, iters, np).orderBy(col("id"))
    val rows = df.collect()
    assert(rows.length == 45)
    for (row <- rows) {
      val id = row.getLong(0)
      val want = ProductIndexMath.elementAt(iters, id)
      assert(Seq(row.getLong(1), row.getLong(2), row.getLong(3)).map(_.toDouble) == want.toSeq, s"id=$id")
      assert(row.getInt(4) == ProductIndexMath.rankOfIndex(45, np, id), s"rank id=$id")
    }
  }

  test("sectionDF window matches golden doctest rows") {
    import org.apache.spark.sql.functions.col
    val df = ProductSplitSource.sectionDF(spark, IndexedSeq(PRange(1, 3), PRange(4, 6)), 5, 8)
    val rows = df.orderBy(col("id")).collect().map(r => (r.getLong(1), r.getLong(2))).toVector
    assert(rows == Vector((2L, 5L), (3L, 5L), (1L, 6L), (2L, 6L)))
  }

  test("float-range product decode is drift-free (I9 fixture)") {
    import org.apache.spark.sql.functions.col
    val iters = IndexedSeq(PRange.steppedD(1, 0.5, 3), PRange(2, 4))
    val df = ProductSplitSource.productDF(spark, iters, 3).orderBy(col("id"))
    val got = df.collect().map(r => (r.getDouble(1), r.getLong(2))).toVector
    val want = ProductIndexMath.productSplit(iters, 1, 1).toVector.map(v => (v(0), v(1).toLong))
    assert(got == want)
  }

  /** Jobs, stages, tasks and shuffle-write bytes of the jobs `body` runs. */
  private def scheduled[A](body: => A): (A, Int, Int, Int, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs, stages, tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
      (out, jobs.get, stages.get, tasks.get, shuffleBytes.get)
    } finally sc.removeSparkListener(listener)
  }

  test("slot blocking: uneven rank blocks match the serial oracle on E1 zip, E1 product and E2") {
    val sum = ReduceOp.commutative[Long](_ + _)
    val zip = IndexedSeq(PRange(1, 101), PRange.stepped(3, 2, 401))
    val zipWant = (1L to 101L).map(x => x * (1 + 2 * x)).toVector
    val prod = IndexedSeq(PRange(1, 7), PRange(2, 10))
    val prodWant = ProductIndexMath.productSplit(prod, 1, 1).toVector.map(v => (v(0) * v(1)).toLong)
    for (np <- Seq(3, 5, 7, 9, 33); init <- Seq(None, Some(-1L))) {
      val vInit = init.map(Vector(_))
      val ctx = s"np=$np init=$init slots=${spark.sparkContext.defaultParallelism}"
      // E1 zip
      assert(pmapreduce(spark, zip, np)(v => (v(0) * v(1)).toLong, sum, init) ==
        zipWant.sum + init.getOrElse(0L), ctx)
      assert(pmapreduce(spark, zip, np)(v => Vector((v(0) * v(1)).toLong), ReduceOp.concat[Long], vInit) ==
        vInit.getOrElse(Vector.empty) ++ zipWant, ctx)
      // E1 product
      assert(pmapreduceProduct(spark, prod, np)(v => (v(0) * v(1)).toLong, sum, init) ==
        prodWant.sum + init.getOrElse(0L), ctx)
      assert(pmapreduceProduct(spark, prod, np)(v => Vector((v(0) * v(1)).toLong), ReduceOp.concat[Long], vInit) ==
        vInit.getOrElse(Vector.empty) ++ prodWant, ctx)
      // E2
      assert(pmapreduceProductSplit(spark, prod, np)(
        _.iterator.map(v => (v(0) * v(1)).toLong).sum, sum, init) == prodWant.sum + init.getOrElse(0L), ctx)
      assert(pmapreduceProductSplit(spark, prod, np)(
        _.toVector.map(v => (v(0) * v(1)).toLong), ReduceOp.concat[Long], vInit) ==
        vInit.getOrElse(Vector.empty) ++ prodWant, ctx)
    }
  }

  test("slot blocking: E2 calls f exactly once per rank, ranks 1..npEff in order") {
    val iters = IndexedSeq(PRange(1, 7), PRange(2, 10))
    for (np <- Seq(3, 5, 7, 9, 33, 100)) {
      val npEff = math.min(np, 63)
      val calls = spark.sparkContext.longAccumulator(s"calls-$np")
      val ranks = pmapreduceProductSplit(spark, iters, np)({ ps =>
        calls.add(1)
        Vector(ProductIndexMath.rankOfIndex(63, npEff, ps.firstFlat))
      }, ReduceOp.concat[Int])
      assert(ranks == (1 to npEff).toVector, s"np=$np")
      assert(calls.value == npEff.toLong, s"np=$np")
    }
  }

  test("slot blocking: np=32 runs one stage of at most defaultParallelism tasks, no shuffle") {
    val slots = spark.sparkContext.defaultParallelism
    val elems = IndexedSeq(PRange(1, 224))
    val (sum, jobs, stages, tasks, shuffle) = scheduled(
      pmapreduce(spark, elems, 32)(t => Array.tabulate(1000)(i => t(0) + i), ReduceOp.elementwiseSum))
    assert(sum(0) == 224.0 * 225 / 2 && sum(999) == 224.0 * 225 / 2 + 224 * 999)
    assert((jobs, stages) == ((1, 1)))
    assert(tasks <= slots && tasks == math.min(32, slots), s"tasks=$tasks slots=$slots")
    assert(shuffle == 0L)
    val (cat, cJobs, cStages, cTasks, cShuffle) = scheduled(
      pmapreduce(spark, elems, 32)(t => Vector(t(0).toLong), ReduceOp.concat[Long]))
    assert(cat == (1L to 224L).toVector)
    assert((cJobs, cStages, cShuffle) == ((1, 1, 0L)) && cTasks <= slots)
  }

  test("reducePartials keeps the treeReduce(depth = 2) branch for more than 16 partitions") {
    val scrambled = scala.util.Random.shuffle((1 to 32).toVector)
    val keyed = spark.sparkContext.parallelize(scrambled, 32).map(r => (r, Vector(r.toLong)))
    // commutative: the depth-2 tree adds a shuffle stage
    val (sum, _, stages, _, shuffle) = scheduled(
      reducePartials(keyed.mapValues(_.sum), ReduceOp.commutative[Long](_ + _)))
    assert(sum == 32L * 33 / 2)
    assert(stages == 2 && shuffle > 0L, s"stages=$stages shuffle=$shuffle")
    // non-commutative: key-sorted root fold, whatever the partition order
    assert(reducePartials(keyed, ReduceOp.concat[Long]) == (1L to 32L).toVector)
  }

  test("zippedDF truncates to shortest and matches positions") {
    import org.apache.spark.sql.functions.col
    val iters = IndexedSeq(PRange(1, 10), PRange.stepped(2, 2, 20))
    val df = ProductSplitSource.zippedDF(spark, iters, 4).orderBy(col("id"))
    val got = df.collect().map(r => (r.getLong(1), r.getLong(2))).toVector
    assert(got == (1 to 10).map(x => (x.toLong, 2L * x)).toVector)
  }
}
