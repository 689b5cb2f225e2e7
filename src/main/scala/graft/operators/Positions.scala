package graft.operators

import org.apache.spark.rdd.RDD

/** Global positions on an ordered RDD: the one place that maps a global
  * index to (split, local offset). Reference: dask keeps per-block lengths
  * as an array's `chunks` metadata (`array/core.py`) and every positional
  * operator reads them; here they are counted once per call by [[starts]].
  * Users: `Quantile.exact`/`exactGrouped` (order statistics), `GBag.sample`
  * and `choices` (Floyd's draw over `[0, n)`), `GArr.fromColumn`/
  * `fromColumns` (the chunk grid), and GArr's one mask ranking
  * (`maskRanks`, under `booleanMask`, `maskedAssign` and `compressArr`):
  * the per-block counts prefix, or [[ranked]] over the sorted selection.
  *
  *   - Counts are `Long`s: `Iterator.size` is an `Int` and wraps past 2^31
  *     rows in one split, the low-parallelism regime at scale.
  *   - A split is addressed by its RDD split index
  *     (`mapPartitionsWithIndex`), never by `TaskContext.getPartitionId()`:
  *     a downstream `coalesce()` fuses the narrow chain into fewer tasks,
  *     and a task id would then pick from the wrong split.
  *   - Drift check: [[gather]], [[ranked]] and [[pack]] re-read the input
  *     after [[starts]] counted it. Every split checks that it still has
  *     the counted number of rows (so it also matched every offset wanted
  *     of it), and throws `IllegalStateException` otherwise. An input that
  *     changes between the two reads (a nondeterministic recompute) fails
  *     the job; it never yields a short or shifted result.
  *   - [[starts]] is one driver collect of O(npartitions) `Long`s, not a
  *     `PrefixScan` Tree carry: every caller needs n and the global
  *     positions on the driver anyway (the interpolation, the draw, the
  *     chunk grid), and a Tree carry would add two shuffles per call.
  */
private[graft] object Positions {

  /** Prefix offsets of per-split counts: `starts(p)` is split p's first
    * global index and `starts.last` is n. Splits absent from `counts` are
    * empty.
    */
  def starts(counts: collection.Map[Int, Long], nSplits: Int): Array[Long] =
    Array.tabulate(nSplits)(counts.getOrElse(_, 0L)).scanLeft(0L)(_ + _)

  /** [[starts]] of `rdd`'s splits: one collect job. */
  def starts(rdd: RDD[_]): Array[Long] = {
    val counts = rdd.mapPartitionsWithIndex { (p, it) =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      Iterator.single((p, c))
    }.collect().toMap
    starts(counts, rdd.getNumPartitions)
  }

  /** The split holding global index `g`: the last i < nSplits with
    * `starts(i) <= g` (empty splits share their successor's start, so the
    * last one is the split that holds the row). Binary search.
    */
  def locate(starts: Array[Long], g: Long): Int = {
    var lo = 0; var hi = starts.length - 2
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= g) lo = mid else hi = mid - 1
    }
    lo
  }

  /** `(position, value(row))` for each distinct wanted position, emitted
    * `copies` times, in split order. One cursor scan per split over the
    * sorted local offsets it is asked for; every split is read to the end
    * for the drift check. The wanted lists and `starts` ship in one
    * broadcast.
    */
  def gather[R, V](rdd: RDD[R], starts: Array[Long], wanted: Seq[(Long, Int)])(
      value: R => V): RDD[(Long, V)] = {
    val n = starts.last
    require(wanted.forall { case (g, c) => g >= 0 && g < n && c > 0 } &&
      wanted.map(_._1).distinct.size == wanted.size,
      s"gather: positions must be distinct and in [0, $n), copies positive")
    val bySplit: Map[Int, Array[(Long, Int)]] =
      wanted.groupBy { case (g, _) => locate(starts, g) }.map { case (p, ws) =>
        p -> ws.map { case (g, c) => (g - starts(p), c) }.sortBy(_._1).toArray }
    val bc = rdd.sparkContext.broadcast((starts, bySplit))
    rdd.mapPartitionsWithIndex { (p, it) =>
      val (st, byP) = bc.value
      val reqs = byP.getOrElse(p, Array.empty[(Long, Int)])
      var off = 0L
      var cursor = 0
      val picked = it.flatMap { r =>
        val o = off
        off += 1
        if (cursor < reqs.length && reqs(cursor)._1 == o) {
          val out = (st(p) + o, value(r))
          val copies = reqs(cursor)._2
          cursor += 1
          Iterator.fill(copies)(out)
        } else Iterator.empty
      }
      picked ++ { checkSplit(p, off, st(p + 1) - st(p)); Iterator.empty }
    }
  }

  /** `(position, row)` for every row, in split order: the ranks of an
    * ordered RDD (a sorted selection), with the drift check.
    */
  def ranked[R](rdd: RDD[R], starts: Array[Long]): RDD[(Long, R)] = {
    val bc = rdd.sparkContext.broadcast(starts)
    rdd.mapPartitionsWithIndex { (p, it) =>
      val st = bc.value
      var g = st(p)
      it.map { r => val o = (g, r); g += 1; o } ++
        { checkSplit(p, g - st(p), st(p + 1) - st(p)); Iterator.empty }
    }
  }

  /** Rows of `width` doubles (`get(row, j)` is column j), in split order,
    * packed row-major into blocks of `chunk` rows: `(b, data)` holds rows
    * [b·chunk, min(n, (b+1)·chunk)). Each split ships one contiguous
    * segment per block it overlaps, so the one shuffle carries a few
    * arrays per block, not one record per row. An empty input packs no
    * block.
    */
  def pack[R](rdd: RDD[R], starts: Array[Long], width: Int, chunk: Int)(
      get: (R, Int) => Double): RDD[(Int, Array[Double])] = {
    val n = starts.last
    val bc = rdd.sparkContext.broadcast(starts)
    rdd.mapPartitionsWithIndex { (p, it) =>
      val st = bc.value
      val segs = scala.collection.mutable.ArrayBuffer[(Int, (Int, Array[Double]))]()
      var gpos = st(p)
      var buf: scala.collection.mutable.ArrayBuilder.ofDouble = null
      var segBlock = -1
      var segOff = 0
      def flush(): Unit =
        if (buf != null) { segs += ((segBlock, (segOff, buf.result()))); buf = null }
      while (it.hasNext) {
        val r = it.next()
        val b = (gpos / chunk).toInt
        if (b != segBlock) {
          flush()
          buf = new scala.collection.mutable.ArrayBuilder.ofDouble
          segBlock = b
          segOff = (gpos % chunk).toInt
        }
        var j = 0
        while (j < width) { buf += get(r, j); j += 1 }
        gpos += 1
      }
      flush()
      checkSplit(p, gpos - st(p), st(p + 1) - st(p))
      segs.iterator
    }.groupByKey().map { case (b, segs) =>
      val a = new Array[Double](math.min(chunk.toLong, n - b.toLong * chunk).toInt * width)
      segs.foreach { case (o, seg) => System.arraycopy(seg, 0, a, o * width, seg.length) }
      (b, a)
    }
  }

  private def checkSplit(p: Int, rows: Long, counted: Long): Unit =
    if (rows != counted) throw new IllegalStateException(
      s"split $p has $rows rows where $counted were counted: the input changed " +
        "between the count and this pass")
}
