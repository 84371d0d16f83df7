package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import graft.functions.ReduceOp
import graft.plans.{PRange, ProductIndexMath, ProductSlice}
import graft.sources.ProductSplitSource

/** The execution operators E1–E4: distributed map + rank-ordered reduce
  * over partitioned products/zips — the engine's `pmapreduce` family
  * (/root/reference/src/mapreduce.jl:266-342).
  *
  * Spark-first design, one scheduling law for every reduction
  * ([[foldSlots]]): one task per slot, not one per rank. Each task
  * serially folds a contiguous block of ranks (≙ the reference's
  * per-worker serial `mapreduce`, reference src/mapreduce.jl:104-124),
  * so the reduction tree has no more leaves than task slots, as the
  * reference's has no more than workers. Commutative ops then combine
  * slot partials with `treeReduce` (the two-level aggregation tree
  * subsumes the reference's host-segmented reduction tree,
  * reference src/trees.jl:42-63). Non-commutative ops use the
  * one semantic Spark doesn't give natively: partials are tagged with
  * their slot, gathered, sorted, and left-folded — blocks are
  * contiguous, so that is exactly the reference's rank-ordered root
  * combine (`_maybesort` + `reducechannel`,
  * reference src/mapreduce.jl:138-146), O(slots), not O(data).
  *
  * `init` is folded exactly once, on the driver, after the distributed
  * reduce — never per partition (the init-once law,
  * /root/reference/src/mapreduce.jl:110-117).
  */
object PMapReduce {

  /** Combine slot- (or rank-) tagged partials respecting the
    * commutativity tag. Keys must sort in rank order. */
  private[graft] def reducePartials[B: ClassTag](partials: RDD[(Int, B)], op: ReduceOp[B]): B = {
    if (op.commutative) {
      val n = partials.getNumPartitions
      partials.values.treeReduce(op, depth = if (n > 16) 2 else 1)
    } else {
      // Key-sorted left fold at the root: reference semantics for
      // non-commutative ops. O(n) values gathered, n = #partitions.
      partials.collect().sortBy(_._1).map(_._2).reduceLeft(op)
    }
  }

  /** The family's scheduling law: `slots = min(npEff, defaultParallelism)`
    * tasks; task `t` owns the contiguous rank block `dropTake(npEff,
    * slots, t)`, computes `rankPartial(p)` once per rank and left-folds
    * them in rank order (in place for the mutating elementwise ops), so
    * `combine` sees one partial per slot, keyed by `t`. A single rank
    * computes locally with no job (reference src/mapreduce.jl:269-277). */
  private def foldSlots[B](spark: SparkSession, npEff: Int, op: ReduceOp[B], init: Option[B])
                           (rankPartial: Int => B)(combine: RDD[(Int, B)] => B): B = {
    val result =
      if (npEff == 1) rankPartial(1)
      else {
        val slots = math.min(npEff, spark.sparkContext.defaultParallelism)
        combine(spark.sparkContext.parallelize(1 to slots, slots).map { t =>
          val (drop, take) = ProductIndexMath.dropTake(npEff, slots, t)
          val end = (drop + take).toInt
          var acc = rankPartial(drop.toInt + 1)
          var p = drop.toInt + 2
          while (p <= end) { acc = op(acc, rankPartial(p)); p += 1 }
          (t, acc)
        })
      }
    init.map(i => op(i, result)).getOrElse(result)
  }

  /** T2: host-segmented two-stage reduction for COMMUTATIVE ops — the
    * reference's `SegmentedOrderedBinaryTree` rationale: reduce WITHIN
    * each node before anything crosses the network
    * (/root/reference/src/trees.jl:42-63, docs/src/index.md:34).
    *
    * Stage 1 is a shuffle-free locality-aware `coalesce` to one
    * partition per host — Spark's partition coalescer groups parent
    * partitions by preferred location, so each group folds HOST-LOCAL
    * partials through a serial (in-place-friendly) `reduceLeft` with
    * zero network traffic. Stage 2 ships ONE partial per host to the
    * driver fold: with H hosts and np ranks carrying an 800 KB array
    * payload, the driver-bound traffic is H payloads, not np (and
    * unlike `treeReduce(depth=2)`, no intermediate partial ever
    * crosses a node boundary before being combined).
    *
    * `segments` overrides the segment count for single-host testing;
    * the reference fakes multi-host topologies the same way
    * (/root/reference/test/paralleltests.jl:472-485).
    *
    * Non-commutative ops keep full rank order — the reference's
    * segmented tree does because its rank->host layout is contiguous
    * by construction (/root/reference/src/trees.jl:108-137); Spark's
    * scheduler placement is not, so the same contiguous layout is
    * built explicitly: partials are range-partitioned into segments
    * with the engine's own split law ([[ProductIndexMath.rankOfIndex]]),
    * key-sorted within each segment, left-folded, and the per-segment
    * partials combine in segment (= min-key) order on the driver.
    * That costs one shuffle of the partials; commutative ops keep the
    * shuffle-free locality-aware coalesce.
    *
    * `partials` is keyed 1..n with n = `partials.getNumPartitions`, in
    * rank order: per-slot keys from [[foldSlots]] (how every
    * pmapreduce* builds them) or per-rank keys. */
  def hostSegmentedReduce[B: ClassTag](spark: SparkSession, partials: RDD[(Int, B)],
                                       op: ReduceOp[B],
                                       segments: Option[Int] = None): B = {
    val nSeg = math.max(1, segments.getOrElse(
      new ClusterQuery(spark).nodenames.size))
    val perSeg: Array[(Int, B)] =
      if (op.commutative) {
        partials.values.coalesce(nSeg)
          .mapPartitions(it =>
            if (it.hasNext) Iterator((0, it.reduceLeft(op))) else Iterator.empty)
          .collect()
      } else {
        val np = partials.getNumPartitions
        val nSegEff = math.max(1, math.min(nSeg, np))
        val bySeg = partials.partitionBy(new org.apache.spark.Partitioner {
          def numPartitions: Int = nSegEff
          def getPartition(key: Any): Int =
            ProductIndexMath.rankOfIndex(np.toLong, nSegEff, key.asInstanceOf[Int] - 1L) - 1
        })
        bySeg.mapPartitions({ it =>
          val buf = it.toArray.sortBy(_._1)
          if (buf.isEmpty) Iterator.empty
          else Iterator((buf.head._1, buf.map(_._2).reduceLeft(op)))
        }, preservesPartitioning = true).collect()
      }
    require(perSeg.nonEmpty, "cannot reduce over an empty collection")
    perSeg.sortBy(_._1).map(_._2).reduceLeft(op)
  }

  /** E1 (zip mode) with the T2 host-segmented combine instead of
    * `treeReduce` — same slot-blocked serial fold as [[pmapreduce]],
    * then [[hostSegmentedReduce]] over the slot partials. */
  def pmapreduceSegmented[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                      (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                       init: Option[B] = None,
                                       segments: Option[Int] = None): B =
    zipMapReduce(spark, iters, np, f, op, init)(hostSegmentedReduce(spark, _, op, segments))

  /** E2: `f` receives each rank's whole ProductSlice once (MPI-style;
    * /root/reference/docs/src/pmapreduce.md:58-93), partials reduced by
    * `op` in rank order. `f` may use every §2.2 point query on the
    * slice. */
  def pmapreduceProductSplit[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                         (f: ProductSlice => B, op: ReduceOp[B],
                                          init: Option[B] = None): B = {
    val npEff = math.max(1L, math.min(np.toLong, ProductIndexMath.totalLength(iters))).toInt
    foldSlots(spark, npEff, op, init)(p => f(ProductIndexMath.productSplit(iters, npEff, p)))(
      reducePartials(_, op))
  }

  /** E1 (zip mode): splat the j-th element of every range into `f`,
    * reduce with `op` (/root/reference/src/mapreduce.jl:266-287). Each
    * rank left-folds its slice serially (ordered within rank), each task
    * its ranks, so one partial per slot crosses the network. The element
    * tuple is built in a primitive array (one allocation, no builders) —
    * this loop runs once per element of potentially 10^8+. */
  def pmapreduce[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                             (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                              init: Option[B] = None): B =
    zipMapReduce(spark, iters, np, f, op, init)(reducePartials(_, op))

  private def zipMapReduce[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int,
                                        f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                        init: Option[B])(combine: RDD[(Int, B)] => B): B = {
    val len = iters.map(_.numElems).min
    val rs = iters.toArray
    mapReduceIndexed(spark, len, np, { j =>
      val arr = new Array[Double](rs.length)
      var k = 0
      while (k < rs.length) { arr(k) = rs(k)(j); k += 1 }
      f(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
    }, op, init)(combine)
  }

  /** E1 (product mode): elements of the full product split across ranks,
    * each splatted into `f` (`pmapreduce(f, op, product(...))`,
    * /root/reference/src/mapreduce.jl:18-30,266-287). The mixed-radix
    * decode runs inline into one primitive array per element (the
    * general `elementAt` builds two IndexedSeqs per call — too much
    * garbage for a loop that may run 10^8+ times). */
  def pmapreduceProduct[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                    (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                     init: Option[B] = None): B = {
    val len = ProductIndexMath.totalLength(iters)
    val rs = iters.toArray
    mapReduceIndexed(spark, len, np, { j =>
      val arr = new Array[Double](rs.length)
      var rem = j
      var k = 0
      while (k < rs.length) {
        val n = rs(k).numElems
        arr(k) = rs(k)(rem % n)
        rem /= n
        k += 1
      }
      f(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
    }, op, init)(reducePartials(_, op))
  }

  private def mapReduceIndexed[B: ClassTag](spark: SparkSession, len: Long, np: Int,
                                            f: Long => B, op: ReduceOp[B], init: Option[B])
                                           (combine: RDD[(Int, B)] => B): B = {
    require(len > 0, "cannot reduce over an empty collection")
    val npEff = math.max(1L, math.min(np.toLong, len)).toInt
    // Plain while loops, not Range.iterator.map(f).reduceLeft(op): the
    // per-rank fold may run 10^8+ iterations, and the iterator
    // chain (NumericRange[Long] boxing + two megamorphic apply sites)
    // both costs per element and takes C2 several seconds of profiling
    // to JIT — which showed up as multi-second scatter in repeated
    // bench records of frozen code. A monomorphic while loop reaches
    // compiled steady state in a fraction of the iterations.
    def foldRange(drop: Long, take: Long): B = {
      var acc = f(drop)
      var j = drop + 1
      val end = drop + take
      while (j < end) { acc = op(acc, f(j)); j += 1 }
      acc
    }
    foldSlots(spark, npEff, op, init) { p =>
      val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
      foldRange(drop, take)
    }(combine)
  }

  /** E3: `pmap` — ordered per-element results
    * (/root/reference/src/mapreduce.jl:316-324). Collect preserves
    * partition (= rank) order, reproducing the `vcat` concatenation. */
  def pmapbatch[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                            (f: IndexedSeq[Double] => T): Vector[T] = {
    val len = iters.map(_.numElems).min
    require(len > 0, "cannot map over an empty collection")
    val npEff = math.max(1L, math.min(np.toLong, len)).toInt
    if (npEff == 1) (0L until len).iterator.map(j => f(iters.map(_(j)))).toVector
    else spark.sparkContext.parallelize(1 to npEff, npEff).flatMap { p =>
      val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
      (drop until drop + take).iterator.map(j => f(iters.map(_(j))))
    }.collect().toVector
  }

  /** E4: per-rank `f(slice)` gathered in rank order
    * (/root/reference/src/mapreduce.jl:334-342). */
  def pmapbatchProductSplit[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                        (f: ProductSlice => T): Vector[T] = {
    val len = ProductIndexMath.totalLength(iters)
    val npEff = math.max(1L, math.min(np.toLong, len)).toInt
    if (npEff == 1) Vector(f(ProductIndexMath.productSplit(iters, 1, 1)))
    else ProductSplitSource.productSliceRDD(spark, iters, npEff)
      .map { case (_, slice) => f(slice) }
      .collect().toVector
  }
}
