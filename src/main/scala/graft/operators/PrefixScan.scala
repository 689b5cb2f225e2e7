package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import scala.reflect.ClassTag

/** The two-phase scan shared by the ordered operators: Cumulative,
  * Expanding, Fill, Ewm, MapOverlap and `GBag.accumulate`, global and
  * keyed alike. Reference: dask builds the same carry chain blockwise
  * (`dask/dataframe/dask_expr/_cumulative.py:20-160`, map_overlap
  * `_expr.py:881-1033`); its scheduler walks the chain serially.
  *
  *   1. summarize (narrow): each partition folds to one summary `S`;
  *   2. carry: the summaries combine into each partition's exclusive
  *      prefix — its seed — or, with `backward = true`, its exclusive
  *      suffix (partition p sees p+1..n-1, later partitions merged first);
  *   3. emit (narrow): each partition re-runs from its seed.
  *
  * Partition order is row order: the input must already be globally
  * ordered (range-partitioned and sorted). The data is never shuffled, and
  * an input without partitions yields an empty result. Keyed operators
  * get that order from [[arrange]] (range partitioning on group ++ order):
  * [[grouped]] carries a running state across partitions (Cumulative,
  * Fill, keyed Ewm), and `MapOverlap`'s rolling kernel carries ghost rows.
  * No keyed operator puts a whole group in one task.
  *
  * Seeds align with partitions by the RDD's own split index, never by
  * `TaskContext.getPartitionId()`: a downstream `coalesce()` fuses the
  * narrow chain into fewer tasks, and a task id would then mis-seed every
  * partition (a misalignment the 10× oracle gate once caught).
  *
  * Each operator picks the carry its merge contract allows:
  *   - [[Tree]]: the √n tree. The n summaries shuffle into ⌈√n⌉ buckets,
  *     each bucket scans its own ⌈√n⌉ summaries, the driver collects and
  *     folds only the ⌈√n⌉ bucket totals, and the seeds shuffle back to
  *     their partitions. No task and not the driver ever holds the n-entry
  *     prefix map (an O(npartitions) collect was ~20–80 MB at the
  *     8×10⁵-partition 100 TB point). Requires `merge` associative with
  *     two-sided identity `empty`.
  *   - [[Sequential]]: one collect of the n summaries and a left fold in
  *     scan order on the driver, starting from `empty`. For merges that
  *     must not be reassociated (EWM's floating-point affine composition,
  *     whose ulps the oracle hashes pin) or whose fold starts from a value
  *     that is not an identity (`GBag.accumulate`'s `initial`). Costs an
  *     O(npartitions) driver payload.
  */
private[graft] object PrefixScan {

  sealed trait Carry
  case object Tree extends Carry
  case object Sequential extends Carry

  /** What phase 1 computes and how two adjacent summaries compose:
    * `merge(a, b)` with `a` earlier in scan order.
    */
  final case class Fold[R, S](summarize: Iterator[R] => S, empty: () => S,
      merge: (S, S) => S)

  /** Scans `rdd`: `emit` gets partition p's seed and its rows. */
  def apply[R: ClassTag, S: ClassTag, O: ClassTag](rdd: RDD[R], carry: Carry,
      fold: Fold[R, S], backward: Boolean = false)(
      emit: (S, Iterator[R]) => Iterator[O]): RDD[O] =
    if (rdd.getNumPartitions == 0) rdd.sparkContext.emptyRDD[O]
    else rdd.zipPartitions(seeds(rdd, carry, fold, backward)) { (it, s) => emit(s.next(), it) }

  /** A forward and a backward [[Tree]] scan in one emit pass (MapOverlap's
    * ghost rows before and after each partition).
    */
  def twoWay[R: ClassTag, A: ClassTag, B: ClassTag, O: ClassTag](rdd: RDD[R],
      fwd: Fold[R, A], bwd: Fold[R, B])(emit: (A, B, Iterator[R]) => Iterator[O]): RDD[O] =
    if (rdd.getNumPartitions == 0) rdd.sparkContext.emptyRDD[O]
    else rdd.zipPartitions(seeds(rdd, Tree, fwd, backward = false),
      seeds(rdd, Tree, bwd, backward = true)) { (it, a, b) => emit(a.next(), b.next(), it) }

  /** DataFrame form of [[apply]] over the plan's own InternalRow RDD
    * ([[InternalScan]]); `emit` builds rows of `outSchema`.
    */
  def frame[S: ClassTag](df: DataFrame, outSchema: StructType, carry: Carry,
      fold: Fold[InternalRow, S], backward: Boolean = false)(
      emit: (S, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame =
    InternalScan.toDF(df.sparkSession,
      apply(InternalScan.rddOf(df), carry, fold, backward)(emit), outSchema)

  /** Range-partitions `df` into `numPartitions` on (group ++ order) and
    * sorts each partition: groups become contiguous, and a hot group spans
    * consecutive partitions instead of collapsing into one task.
    */
  def arrange(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      numPartitions: Int): DataFrame = {
    val keys = groupCols.map(col) ++ order
    df.repartitionByRange(numPartitions, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** [[arrange]] into the session's `numShufflePartitions`: the scan family's count. */
  def arrange(df: DataFrame, groupCols: Seq[String], order: Seq[Column]): DataFrame =
    arrange(df, groupCols, order, df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Grouped form: a running per-group state `A` over `df` [[arrange]]d by
    * (group ++ order). `step` advances the state by one row, and the state
    * restarts at `zero` at every group head. Phase 1 summarizes each
    * partition as the group open at each edge plus the state of the
    * right-edge group. The segmented-scan monoid folds a left tail into
    * the right one, `combine(left, right)`, only when the right segment is
    * entirely the left's open group. `out` builds a per-task emitter of
    * (row, state after the row).
    *
    * @param carry as in [[apply]]: [[Tree]] needs `combine` associative
    *              (Cumulative, Fill); [[Sequential]] folds the tails left
    *              to right on the driver, for a `combine` that must not be
    *              reassociated (keyed Ewm).
    */
  def grouped[A](df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      outSchema: StructType, carry: Carry)(zero: A, step: (A, InternalRow) => A,
      combine: (A, A) => A)(out: () => (InternalRow, A) => InternalRow): DataFrame = {
    val schema = df.schema
    val gIdx = groupCols.map(schema.fieldIndex)
    val fold = Fold[InternalRow, Seg[A]](
      it => { val w = new GroupWalk(schema, gIdx, zero, step, null); it.foreach(w(_)); w.summary },
      () => null,
      (a, b) =>
        if (a == null) b
        else if (b == null) a
        else Seg(a.firstG, b.lastG,
          if (b.firstG == b.lastG && b.firstG == a.lastG) combine(a.tail, b.tail) else b.tail))
    frame(arrange(df, groupCols, order), outSchema, carry, fold) { (seed, it) =>
      val w = new GroupWalk(schema, gIdx, zero, step, seed)
      val emit = out()
      it.map(r => emit(r, w(r)))
    }
  }

  /** A partition of a grouped scan: the groups open at its left and right
    * edges (UnsafeRow keys from [[InternalScan.KeyProj]], byte equality is
    * value equality) and the state of the right-edge group. An empty
    * partition is `null`, the monoid identity.
    */
  private final case class Seg[A](firstG: UnsafeRow, lastG: UnsafeRow, tail: A)

  /** Per-task walk over arranged rows; the first group continues `seed`
    * when the seed's open group is the same group.
    */
  private final class GroupWalk[A](schema: StructType, gIdx: Seq[Int], zero: A,
      step: (A, InternalRow) => A, seed: Seg[A]) {
    private val keyProj = new InternalScan.KeyProj(schema, gIdx)
    private var first: UnsafeRow = null
    private var cur: UnsafeRow = null
    private var acc = zero
    def apply(r: InternalRow): A = {
      val g = keyProj(r)
      if (cur == null) {
        cur = g.copy(); first = cur
        if (seed != null && seed.lastG == cur) acc = seed.tail
      } else if (g != cur) { cur = g.copy(); acc = zero }
      acc = step(acc, r)
      acc
    }
    def summary: Seg[A] = if (first == null) null else Seg(first, cur, acc)
  }

  private final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** An RDD of n partitions whose partition p holds exactly seed p. */
  private def seeds[R, S: ClassTag](rdd: RDD[R], carry: Carry, fold: Fold[R, S],
      backward: Boolean): RDD[S] = {
    val n = rdd.getNumPartitions
    // scan position of a partition; the flip is its own inverse
    val pos: Int => Int = if (backward) p => n - 1 - p else p => p
    val summaries = rdd.mapPartitionsWithIndex { (p, it) =>
      Iterator.single((pos(p), fold.summarize(it))) }
    carry match {
      case Sequential =>
        val prefix = summaries.collect().sortBy(_._1).map(_._2)
          .scanLeft(fold.empty())(fold.merge)
        rdd.sparkContext.parallelize(Array.tabulate(n)(p => prefix(pos(p))), n)
      case Tree =>
        val bucketSize = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
        val nBuckets = (n + bucketSize - 1) / bucketSize
        // per-bucket scan, O(√n) summaries per task; the shuffle files make
        // the second traversal below cheap without a persist
        val scanned = summaries.map { case (q, s) => (q / bucketSize, (q, s)) }
          .partitionBy(new IdPartitioner(nBuckets))
          .mapPartitionsWithIndex { (b, it) =>
            var run = fold.empty()
            val within = it.map(_._2).toArray.sortBy(_._1).map { case (q, s) =>
              val w = (q, run); run = fold.merge(run, s); w }
            Iterator.single((b, run, within))
          }
        val bucketPrefix = scanned.map { case (b, tot, _) => (b, tot) }.collect()
          .sortBy(_._1).map(_._2).scanLeft(fold.empty())(fold.merge)
        val bc = rdd.sparkContext.broadcast(bucketPrefix)
        scanned.flatMap { case (b, _, within) =>
          val bp = bc.value(b)
          within.iterator.map { case (q, w) => (pos(q), fold.merge(bp, w)) }
        }.partitionBy(new IdPartitioner(n)).values
    }
  }
}
