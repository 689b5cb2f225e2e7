package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Generic partition-overlap ("stencil") operator — the reference's
  * `map_overlap(func, before, after)` (`dask_expr/_expr.py:881-1033`,
  * kernels `dask/dataframe/rolling.py`): run a per-partition function that
  * needs to see the `before` trailing rows of the previous partition and
  * the `after` leading rows of the next one (UDF rolling windows, shift,
  * diff, ffill across boundaries…).
  *
  * Spark has no ghost-row primitive, and a re-keyed union would shuffle
  * the whole dataset to move a few boundary rows. Instead the ghost rows
  * are the carries of a [[PrefixScan]]: the rows before a partition are a
  * forward scan, the rows after it a backward one, and one emit pass
  * prepends/appends them — no shuffle of the main data.
  *
  * Carry contract: a partition's summary is its boundary rows (its last
  * `before`, its first `after`), and summaries merge by concatenation
  * truncated to the ghost width. A neighbour shorter than the ghost region
  * contributes all its rows and the rest comes from further away. The
  * merge does no arithmetic, so it is associative and exact under any
  * split, and the carry is a [[PrefixScan.Tree]]. The value-based ghosts
  * of [[rollingRangeAgg]] follow the same contract.
  *
  * Kernels run on the plan's own InternalRow RDD ([[InternalScan]]): they
  * read typed primitives and emit through a codegen'd append projection.
  * Iterator rows are REUSED buffers: ghosts and any row retained across
  * `next()` are `copy()`d, carried field values go through
  * `InternalRow.copyValue`.
  *
  * The input must be range-partitioned and sorted by the index column
  * (i.e. `setIndex` has run) so "previous/next partition" is meaningful.
  */
object MapOverlap {

  /** @param f     sees (ghostBefore, partition iterator, ghostAfter); the
    *              ghosts are already-copied rows; must return exactly one
    *              output row per non-ghost input row region it owns (the
    *              usual rolling/shift contract).
    */
  def apply(df: DataFrame, outSchema: StructType, before: Int, after: Int)(
      f: (Seq[InternalRow], Iterator[InternalRow], Seq[InternalRow]) => Iterator[InternalRow]): DataFrame = {

    val tails = PrefixScan.Fold[InternalRow, Array[InternalRow]](
      it => {
        // copies: the source iterator reuses its buffer
        val tail = new scala.collection.mutable.ArrayDeque[InternalRow]
        if (before > 0) it.foreach { r => tail.append(r.copy()); if (tail.size > before) tail.removeHead() }
        tail.toArray
      },
      () => Array.empty, (a, b) => (a ++ b).takeRight(before))
    // backward: the accumulated `a` holds rows that come AFTER `b`
    val heads = PrefixScan.Fold[InternalRow, Array[InternalRow]](
      _.take(after).map(_.copy()).toArray, () => Array.empty, (a, b) => (b ++ a).take(after))
    val rdd = InternalScan.rddOf(df)
    val out =
      if (after <= 0) PrefixScan(rdd, PrefixScan.Tree, tails)((gb, it) => f(gb.toSeq, it, Nil))
      else if (before <= 0)
        PrefixScan(rdd, PrefixScan.Tree, heads, backward = true)((ga, it) => f(Nil, it, ga.toSeq))
      else PrefixScan.twoWay(rdd, tails, heads)((gb, ga, it) => f(gb.toSeq, it, ga.toSeq))
    InternalScan.toDF(df.sparkSession, out, outSchema)
  }

  /** Rolling aggregate over the previous `window-1` rows + current, global
    * order — the scalable replacement for an un-partitioned SQL window
    * (which Spark executes in ONE task).  Mirrors dask's
    * `RollingReduction → MapOverlap` lowering (`_rolling.py:114-153`).
    *
    * @param minPeriods rows required before emitting a value (else null)
    */
  def rollingSum(df: DataFrame, valueCol: String, window: Int, outCol: String,
                 minPeriods: Int = 1): DataFrame =
    rollingAgg(df, valueCol, window, outCol, minPeriods)(_.sum)

  /** Skew-resilient GROUPED rolling — the scale alternative to the keyed
    * SQL-window path (one task per whole group; a zipf-hot group is a
    * single straggler): [[PrefixScan.arrange]] range-partitions by
    * (group ++ order) so groups are contiguous and hot groups SPAN
    * partitions, then [[rollingAgg]]'s kernel body runs over the group
    * columns. `GRolling.aggTree` and `GRolling.applyKeyed` run here.
    */
  def rollingAggGrouped(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], valueCol: String, window: Int, outCol: String,
      minPeriods: Int,
      outType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.DoubleType)
      (agg: Seq[Double] => Any): DataFrame =
    rolling(PrefixScan.arrange(df, groupCols, orderCols.map(col)), groupCols, valueCol,
      window, outCol, minPeriods, outType)(agg)

  def rollingMean(df: DataFrame, valueCol: String, window: Int, outCol: String,
                  minPeriods: Int = 1): DataFrame =
    rollingAgg(df, valueCol, window, outCol, minPeriods)(
      xs => if (xs.isEmpty) null else xs.sum / xs.size)

  /** Rolling `agg` of `valueCol` over the previous `window-1` rows + the
    * current one, in global order: the [[rolling]] kernel body over zero
    * group columns, so every row is in the one group.
    *
    * @param agg may return null (e.g. sample std of a 1-row window); the
    *            result value must match `outType` (default double)
    */
  def rollingAgg(df: DataFrame, valueCol: String, window: Int, outCol: String,
                 minPeriods: Int,
                 outType: org.apache.spark.sql.types.DataType =
                   org.apache.spark.sql.types.DoubleType)
                (agg: Seq[Double] => Any): DataFrame =
    rolling(df, Nil, valueCol, window, outCol, minPeriods, outType)(agg)

  /** The one rolling kernel body of [[rollingAgg]] and [[rollingAggGrouped]]:
    * the ghost-row overlap scan with a group-aware window. A row's window
    * is the trailing run of its own group among the last `window` rows,
    * ghosts included: the buffer clears at every group change, and since
    * the input keeps each group contiguous, nothing leaks across a group
    * head at a partition boundary. With no group columns the empty key
    * puts every row in one group. `agg` sees the window's non-null values
    * oldest first and runs once there are `minPeriods` of them.
    */
  private def rolling(df: DataFrame, groupCols: Seq[String], valueCol: String, window: Int,
      outCol: String, minPeriods: Int, outType: org.apache.spark.sql.types.DataType)(
      agg: Seq[Double] => Any): DataFrame = {
    val schema = df.schema
    val gIdx = groupCols.map(schema.fieldIndex)
    val idx = schema.fieldIndex(valueCol)
    val getD = InternalScan.doubleGetter(schema(idx).dataType, idx)
    apply(df, schema.add(outCol, outType), before = window - 1, after = 0) { (ghosts, it, _) =>
      val keyProj = new InternalScan.KeyProj(schema, gIdx)
      val append = new InternalScan.Append(schema, Seq(outType))
      var cur: UnsafeRow = null
      val buf = new scala.collection.mutable.ArrayDeque[Option[Double]]()
      def push(r: InternalRow): Unit = {
        val g = keyProj(r)
        if (g != cur) { cur = g.copy(); buf.clear() }
        buf.append(if (r.isNullAt(idx)) None else Some(getD(r)))
        if (buf.size > window) { buf.removeHead(); () }
      }
      ghosts.foreach(push)
      it.map { r =>
        push(r)
        val valid = buf.iterator.flatten.toIndexedSeq
        append(r, if (valid.size >= minPeriods) agg(valid) else null)
      }
    }
  }

  /** Incrementally maintained moments of a rolling window's valid pairs,
    * O(1) per add/remove: raw sums of (x−ax), (y−ay) around a FIXED
    * anchor (ax, ay), re-anchored at every periodic rebuild.  Centered
    * sums derive as Cxx = Sxx − Sx²/n etc.
    *
    * Why anchored raw sums and not Welford add/remove (pandas'
    * `roll_cov` scheme): removal drift is relative to the VALUE
    * magnitude there, and a window of replicated identical pairs has
    * true variance exactly 0 — any drift then explodes corr (observed
    * |corr| > 1 on ScaleGen's replicated ties).  With an in-window
    * anchor, identical values contribute exact zeros (Sxx stays 0.0
    * bit-exactly through constant runs) and drift scales with the
    * window SPREAD — the same scale as the variance itself.
    * [[rollingPairAgg]] rebuilds exactly from the live window every
    * `window` evictions, so drift never spans more than ~2·window
    * updates.
    */
  final class PairMoments {
    var n: Int = 0
    private var ax = 0.0; private var ay = 0.0
    private var anchored = false
    private var sx = 0.0; private var sy = 0.0
    private var sxx = 0.0; private var syy = 0.0; private var sxy = 0.0
    // monotonic min/max deques of (seq, value): O(1) amortized sliding
    // extrema, so "is this window EXACTLY constant" — the zero-variance
    // NaN case an exact per-window recompute (SQL corr, pandas) sees —
    // is answered without tolerances.  FIFO contract: remove() always
    // evicts the oldest pair.
    private var seq = 0L
    private var oldest = 0L
    private val mnX = new scala.collection.mutable.ArrayDeque[(Long, Double)]()
    private val mxX = new scala.collection.mutable.ArrayDeque[(Long, Double)]()
    private val mnY = new scala.collection.mutable.ArrayDeque[(Long, Double)]()
    private val mxY = new scala.collection.mutable.ArrayDeque[(Long, Double)]()

    def reset(): Unit = {
      n = 0; anchored = false; ax = 0.0; ay = 0.0
      sx = 0.0; sy = 0.0; sxx = 0.0; syy = 0.0; sxy = 0.0
      // seq/oldest survive: eviction order continues across rebuilds
      mnX.clear(); mxX.clear(); mnY.clear(); mxY.clear()
    }

    def add(x: Double, y: Double): Unit = {
      if (!anchored) { ax = x; ay = y; anchored = true }
      val dx = x - ax; val dy = y - ay
      n += 1
      sx += dx; sy += dy
      sxx += dx * dx; syy += dy * dy; sxy += dx * dy
      while (mnX.nonEmpty && mnX.last._2 >= x) mnX.removeLast()
      mnX.append((seq, x))
      while (mxX.nonEmpty && mxX.last._2 <= x) mxX.removeLast()
      mxX.append((seq, x))
      while (mnY.nonEmpty && mnY.last._2 >= y) mnY.removeLast()
      mnY.append((seq, y))
      while (mxY.nonEmpty && mxY.last._2 <= y) mxY.removeLast()
      mxY.append((seq, y))
      seq += 1
    }

    /** exact inverse of [[add]] for the OLDEST live pair (FIFO) */
    def remove(x: Double, y: Double): Unit = {
      if (n <= 1) { n = 0; anchored = false
        sx = 0.0; sy = 0.0; sxx = 0.0; syy = 0.0; sxy = 0.0
        mnX.clear(); mxX.clear(); mnY.clear(); mxY.clear()
      } else {
        val dx = x - ax; val dy = y - ay
        n -= 1
        sx -= dx; sy -= dy
        sxx -= dx * dx; syy -= dy * dy; sxy -= dx * dy
        if (mnX.nonEmpty && mnX.head._1 == oldest) mnX.removeHead()
        if (mxX.nonEmpty && mxX.head._1 == oldest) mxX.removeHead()
        if (mnY.nonEmpty && mnY.head._1 == oldest) mnY.removeHead()
        if (mxY.nonEmpty && mxY.head._1 == oldest) mxY.removeHead()
      }
      oldest += 1
    }

    /** exact rebuild from the live window (oldest first): re-anchors and
      * re-numbers the eviction sequence so FIFO removal stays aligned
      */
    def rebuildFrom(pairs: Iterator[(Double, Double)]): Unit = {
      reset()
      oldest = seq // re-added pairs take seqs oldest, oldest+1, … in FIFO order
      pairs.foreach { case (x, y) => add(x, y) }
    }

    /** all live x (resp. y) values identical — variance EXACTLY zero */
    def constX: Boolean = n > 0 && mnX.head._2 == mxX.head._2
    def constY: Boolean = n > 0 && mnY.head._2 == mxY.head._2

    /** centered second moments (anchor-invariant up to fp) */
    def cxx: Double = sxx - sx * sx / n
    def cyy: Double = syy - sy * sy / n
    def cxy: Double = sxy - sx * sy / n
  }

  /** Two-column rolling aggregate over the global order — the MapOverlap
    * lowering of pandas `rolling.cov` / `rolling.corr` between two columns
    * (reference `_rolling.py` pairwise reductions).  The kernel maintains
    * the window's valid-PAIR moments (rows where BOTH columns are
    * non-null, the same population Spark's `covar_samp`/`corr` and the
    * keyed native-window path aggregate over) in O(1) per row;
    * `minPeriods` counts those pairs.
    */
  def rollingPairAgg(df: DataFrame, xCol: String, yCol: String, window: Int,
                     outCol: String, minPeriods: Int = 1,
                     outType: org.apache.spark.sql.types.DataType =
                       org.apache.spark.sql.types.DoubleType)
                    (agg: PairMoments => Any): DataFrame = {
    val schema = df.schema
    val xi = schema.fieldIndex(xCol)
    val yi = schema.fieldIndex(yCol)
    val getX = InternalScan.doubleGetter(schema(xi).dataType, xi)
    val getY = InternalScan.doubleGetter(schema(yi).dataType, yi)
    val outSchema = schema.add(outCol, outType)
    apply(df, outSchema, before = window - 1, after = 0) { (ghosts, it, _) =>
      val append = new InternalScan.Append(schema, Seq(outType))
      val buf = new scala.collection.mutable.ArrayDeque[(Double, Double, Boolean)]()
      val m = new PairMoments
      var evictions = 0
      def push(r: InternalRow): Unit = {
        var dirty = false
        if (buf.size == window) {
          val (ox, oy, ook) = buf.removeHead()
          if (ook) {
            m.remove(ox, oy); evictions += 1
            // a non-finite evictee poisons the running sums irreversibly
            // (NaN − NaN = NaN): rebuild NOW, not at the periodic point,
            // or up to `window` further windows report NaN where an exact
            // per-window recompute (SQL window, keyed path) would not
            if (!java.lang.Double.isFinite(ox) || !java.lang.Double.isFinite(oy))
              dirty = true
          }
        }
        val ok = !r.isNullAt(xi) && !r.isNullAt(yi)
        val x = if (ok) getX(r) else 0.0
        val y = if (ok) getY(r) else 0.0
        buf.append((x, y, ok))
        if (ok) m.add(x, y)
        if (dirty || evictions >= window) { // periodic exact rebuild bounds fp drift
          evictions = 0
          m.rebuildFrom(buf.iterator.collect { case (bx, by, true) => (bx, by) })
        }
      }
      ghosts.foreach(push)
      it.map { r =>
        push(r)
        val out: Any = if (m.n >= minPeriods) agg(m) else null
        append(r, out)
      }
    }
  }

  /** Centered rolling aggregate (`center=True`): window spans
    * `[-window/2, window - window/2 - 1]` around each row (pandas
    * left-bias), so ghosts are needed on BOTH sides.  The partition body
    * is buffered (the same per-partition memory contract as the
    * reference's pandas kernels); ghosts stay O(window).
    */
  def rollingCenteredAgg(df: DataFrame, valueCol: String, window: Int, outCol: String,
                         minPeriods: Int,
                         outType: org.apache.spark.sql.types.DataType =
                           org.apache.spark.sql.types.DoubleType)
                        (agg: Seq[Double] => Any): DataFrame = {
    val schema = df.schema
    val idx = schema.fieldIndex(valueCol)
    val getD = InternalScan.doubleGetter(schema(idx).dataType, idx)
    val outSchema = schema.add(outCol, outType)
    val before = window / 2
    val after = window - window / 2 - 1
    apply(df, outSchema, before, after) { (gb, it, ga) =>
      val append = new InternalScan.Append(schema, Seq(outType))
      def v(r: InternalRow): Option[Double] =
        if (r.isNullAt(idx)) None else Some(getD(r))
      // the partition body is buffered anyway — copy out of the reused
      // iterator buffer
      val rows = it.map(_.copy()).toIndexedSeq
      val vals = (gb.map(v) ++ rows.map(v) ++ ga.map(v)).toIndexedSeq
      val off = gb.size
      rows.indices.iterator.map { i =>
        val c = off + i
        val lo = math.max(0, c - before)
        val hi = math.min(vals.size - 1, c + after)
        val valid = (lo to hi).flatMap(vals(_))
        val out: Any = if (valid.size >= minPeriods) agg(valid) else null
        append(rows(i), out)
      }
    }
  }

  /** Time-range rolling aggregate over the global order (dask
    * `rolling(window=Timedelta)` → MapOverlap with a Timedelta `before`,
    * `_rolling.py:114-153`): each row aggregates rows whose order value
    * lies in `[ord - range, ord]`.  Ghosts are VALUE-based: the boundary
    * pass keeps each partition's tail rows within `range` of its max
    * order value, and the main pass seeds each partition with previous
    * partitions' tails that fall within `range` of its own min.  Ghost
    * volume is the row count inside one `range` span at each boundary —
    * the same budget the reference spends on Timedelta overlap.
    * Requires range-partitioned + sorted input (post-`setIndex`).
    *
    * Tie semantics are pandas': the window holds rows at or BEFORE the
    * current row position (SQL `RANGE BETWEEN` additionally includes
    * later peers with an equal order value).
    */
  def rollingRangeAgg(df: DataFrame, valueCol: String, ordCol: String,
                      range: Double, outCol: String, minPeriods: Int = 1,
                      outType: org.apache.spark.sql.types.DataType =
                        org.apache.spark.sql.types.DoubleType)
                     (agg: Seq[Double] => Any): DataFrame = {
    val schema = df.schema
    val vIdx = schema.fieldIndex(valueCol)
    val oIdx = schema.fieldIndex(ordCol)
    val getV = InternalScan.doubleGetter(schema(vIdx).dataType, vIdx)
    val ordOf = InternalScan.doubleGetter(schema(oIdx).dataType, oIdx)
    val outSchema = schema.add(outCol, outType)
    // (ord, value-or-null) pairs: values are unboxed at read time, so
    // nothing references the reused row buffer
    def entry(r: InternalRow): (Double, Any) =
      (ordOf(r), if (r.isNullAt(vIdx)) null else Double.box(getV(r)))

    // summary: (maxOrd, tail rows within `range` of maxOrd) — the only rows
    // a later partition could need. The merge keeps the combined tail
    // within `range` of the combined max; under range partitioning the
    // prefix max is ≤ any later partition's min, so the carry holds every
    // row a later partition's first window can need.
    val fold = PrefixScan.Fold[InternalRow, (Double, Array[(Double, Any)])](
      it => {
        var maxO = Double.NegativeInfinity
        val tail = new scala.collection.mutable.ArrayDeque[(Double, Any)]
        it.foreach { r =>
          val e = entry(r)
          if (e._1 > maxO) maxO = e._1
          tail.append(e)
          while (tail.nonEmpty && tail.head._1 < maxO - range) tail.removeHead()
        }
        (maxO, tail.toArray)
      },
      () => (Double.NegativeInfinity, Array.empty[(Double, Any)]),
      (a, b) => {
        val m = math.max(a._1, b._1)
        (m, (a._2 ++ b._2).filter(_._1 >= m - range))
      })

    PrefixScan.frame(df, outSchema, PrefixScan.Tree, fold) { (seed, it) =>
      val append = new InternalScan.Append(schema, Seq(outType))
      val win = new scala.collection.mutable.ArrayDeque[(Double, Any)]
      // seed with the full carry: the per-row pruning below drops
      // anything older than the first row's window before it aggregates
      seed._2.foreach(win.append)
      it.map { r =>
        val e = entry(r)
        win.append(e)
        while (win.nonEmpty && win.head._1 < e._1 - range) win.removeHead()
        val valid = win.iterator.collect {
          case (_, v) if v != null => v.asInstanceOf[Double]
        }.toIndexedSeq
        val out: Any = if (valid.size >= minPeriods) agg(valid) else null
        append(r, out)
      }
    }
  }

  /** Global lead(n): each row receives the value `n` rows LATER, using
    * `after` ghost rows from following partitions — the negative-period
    * half of dask `Shift`.
    */
  def lead(df: DataFrame, valueCol: String, n: Int, outCol: String): DataFrame = {
    require(n > 0, s"lead periods must be positive, got $n")
    val schema = df.schema
    val idx = schema.fieldIndex(valueCol)
    val vType = schema(idx).dataType
    val outSchema = schema.add(outCol, vType)
    apply(df, outSchema, before = 0, after = n) { (_, it, ghostAfter) =>
      // ghost rows are copies — reading their values is safe
      val ghosts = ghostAfter.map(g => g.get(idx, vType)).toIndexedSeq
      val append = new InternalScan.Append(schema, Seq(vType))
      new Iterator[InternalRow] {
        private val q = new scala.collection.mutable.ArrayDeque[InternalRow]()
        def hasNext: Boolean = it.hasNext || q.nonEmpty
        def next(): InternalRow = {
          while (it.hasNext && q.size <= n) q.append(it.next().copy())
          if (q.size > n) {
            val h = q.removeHead()
            append(h, q.last.get(idx, vType)) // q.last is h's n-th successor
          } else {
            // input exhausted: successors continue in the ghost region
            val ghostIdx = n - q.size
            val h = q.removeHead()
            val lead = if (ghostIdx < ghosts.length) ghosts(ghostIdx) else null
            append(h, lead)
          }
        }
      }
    }
  }

  /** `np.gradient` over the global order: central difference for interior
    * rows, one-sided at the ends (`array/routines.py:661`). Two ghost-row
    * passes (shift + lead), no global window.
    */
  def gradient(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    val withPrev = shift(df, valueCol, 1, "__prev")
    val withNext = lead(withPrev, valueCol, 1, "__next")
    val v = col(valueCol)
    withNext
      .withColumn(outCol,
        when(col("__prev").isNull, col("__next") - v)
          .when(col("__next").isNull, v - col("__prev"))
          .otherwise((col("__next") - col("__prev")) / 2))
      .drop("__prev", "__next")
  }

  /** Global shift(n) across partition boundaries (dask `Shift`
    * `_expr.py:3454`): each row receives the value `n` rows earlier.
    */
  def shift(df: DataFrame, valueCol: String, n: Int, outCol: String): DataFrame = {
    if (n < 0) return lead(df, valueCol, -n, outCol)
    val schema = df.schema
    val idx = schema.fieldIndex(valueCol)
    val vType = schema(idx).dataType
    val outSchema = schema.add(outCol, vType)
    apply(df, outSchema, before = n, after = 0) { (ghosts, it, _) =>
      val append = new InternalScan.Append(schema, Seq(vType))
      val buf = new scala.collection.mutable.ArrayDeque[Any]()
      // ghost rows are copies — their values need no further snapshot
      ghosts.foreach { g =>
        buf.append(g.get(idx, vType)); if (buf.size > n) { buf.removeHead(); () }
      }
      // pad so the first rows of partition 0 get null
      while (buf.size < n) buf.prepend(null)
      it.map { r =>
        val shifted = if (n == 0) r.get(idx, vType) else buf.head
        // carried values outlive the row buffer — snapshot them
        buf.append(InternalRow.copyValue(r.get(idx, vType)))
        if (buf.size > n) { buf.removeHead(); () }
        append(r, shifted)
      }
    }
  }
}
