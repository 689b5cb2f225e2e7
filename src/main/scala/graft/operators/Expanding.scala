package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed GLOBAL `expanding()` — reference `dask_expr/_rolling.py`
  * (`Expanding` ≈ rolling with an unbounded-preceding frame). An
  * un-partitioned `ROWS UNBOUNDED PRECEDING` SQL window is a single task in
  * Spark; this is a [[PrefixScan]] carrying the full moment state, so ONE
  * scan serves every expanding aggregate.
  *
  * Carry contract: a partition's summary is its [[St]] (row count, exact
  * Long sums, Welford mean/M2, min, max); summaries merge by Chan's
  * parallel update — associative, with the empty state as identity, so
  * the carry is a [[PrefixScan.Tree]]. Integral mean/var/std come from the
  * Long sums and are exact under any split; the Double moments may move by
  * an ulp with the partition boundaries (no raw power sums, so mean ≫ std
  * cannot cancel).
  *
  * Input must arrive in global order; `aggs` sorts by `orderBy` first
  * (one range shuffle — the same total-order exchange `orderBy` costs).
  *
  * Null semantics match the keyed native-window path (and pandas): a null
  * value does not advance the state, but the row still emits the
  * statistic of the observations so far; rows before `minPeriods`
  * observations emit null (var/std additionally need n ≥ 2, like
  * `var_samp`).
  */
object Expanding {

  /** Running moment state over the non-null observations seen so far.
    * Integral inputs carry exact Long accumulators (`sumL`/`sum2L`/
    * `mnL`/`mxL`) alongside the Double moments: longs above 2⁵³ would
    * silently round through the Double fields, and — decisive at scale —
    * Long sums are order-independent, so integral mean/var/std are
    * bit-identical under ANY partitioning (the Welford/Chan double path
    * varies in the last ulps with partition boundaries, which a
    * round-then-hash oracle gate sees at 10⁶+ rows).
    */
  private final class St(
      var rows: Long, var n: Long, var sumD: Double, var sumL: Long,
      var sum2L: Long,
      var mean: Double, var m2: Double,
      var mn: Double, var mx: Double,
      var mnL: Long, var mxL: Long) extends Serializable {

    /** set once the exact Long accumulators can no longer be trusted —
      * ANY overflow of sumL or sum2L, per-value (x² > 2⁶³) or running
      * (e.g. |x|≈10⁶ over ≳10⁷ rows: every x² fits, Σx² does not) — so
      * the integral mean/var/std paths yield to the Welford moments.
      * Detection is by Math.addExact/multiplyExact, not a magnitude
      * bound: a per-value guard alone misses running-sum wrap.  The
      * accumulators still advance with wrapping arithmetic so `sum`
      * keeps Spark's non-ANSI `sum(LONG)` semantics (wraps at 2⁶³). */
    var big: Boolean = false

    /** every row advances the ROW counter — pandas counts `min_periods`
      * for `count()` in window rows, not non-null observations. */
    def bump(): Unit = rows += 1

    /** Chan et al. pairwise merge: this ← this ⊕ (n=1, x). */
    def add(x: Double, xL: Long): Unit = {
      sumD += x
      try sumL = Math.addExact(sumL, xL)
      catch { case _: ArithmeticException => sumL += xL; big = true }
      try sum2L = Math.addExact(sum2L, Math.multiplyExact(xL, xL))
      catch { case _: ArithmeticException => sum2L += xL * xL; big = true }
      val n1 = n; n += 1
      val delta = x - mean
      mean += delta / n
      m2 += delta * (x - mean) // first obs: mean == x exactly, adds 0
      if (n1 == 0) { mn = x; mx = x; mnL = xL; mxL = xL }
      else {
        if (x < mn) mn = x; if (x > mx) mx = x
        if (xL < mnL) mnL = xL; if (xL > mxL) mxL = xL
      }
    }

    /** Chan merge of two partition states (associative). */
    def merge(b: St): St = {
      if (b.n == 0) { val out = copySt(); out.rows += b.rows; return out }
      if (n == 0) { val out = b.copySt(); out.rows += rows; return out }
      val out = St.empty
      out.rows = rows + b.rows
      out.n = n + b.n
      out.sumD = sumD + b.sumD
      out.big = big || b.big
      try out.sumL = Math.addExact(sumL, b.sumL)
      catch { case _: ArithmeticException => out.sumL = sumL + b.sumL; out.big = true }
      try out.sum2L = Math.addExact(sum2L, b.sum2L)
      catch { case _: ArithmeticException => out.sum2L = sum2L + b.sum2L; out.big = true }
      val delta = b.mean - mean
      out.mean = mean + delta * b.n / out.n
      out.m2 = m2 + b.m2 + delta * delta * n.toDouble * b.n / out.n
      out.mn = math.min(mn, b.mn)
      out.mx = math.max(mx, b.mx)
      out.mnL = math.min(mnL, b.mnL)
      out.mxL = math.max(mxL, b.mxL)
      out
    }

    def copySt(): St = {
      val c = new St(rows, n, sumD, sumL, sum2L, mean, m2, mn, mx, mnL, mxL)
      c.big = big
      c
    }
  }

  private object St {
    def empty: St = new St(0, 0, 0.0, 0L, 0L, 0.0, 0.0, 0.0, 0.0, 0L, 0L)
  }

  val supported: Set[String] = Set("sum", "mean", "count", "min", "max", "var", "std")

  /** Adds one output column per `(outName, aggName)` spec, all computed in
    * a single two-phase scan over `valueCol` in `orderBy` order.
    */
  def aggs(df: DataFrame, valueCol: String, orderBy: Seq[String],
           specs: Seq[(String, String)], minPeriods: Int = 1): DataFrame = {
    specs.foreach { case (_, a) =>
      require(supported(a), s"expanding agg=$a (supported: ${supported.mkString(", ")})") }
    val integral = InternalScan.isIntegral(df.schema(valueCol).dataType)
    val sorted = (if (orderBy.nonEmpty) df.orderBy(orderBy.map(col): _*) else df)
      // Both phases consume the same total-ordered scan; cache it so the
      // post-shuffle partition sort runs ONCE (phase 2 would otherwise
      // re-fetch the reused shuffle files and re-sort every partition).
      // SQL-level persist, NOT rdd.persist: the result is lazy so no
      // eager unpersist point exists, and an RDD-level persist is only
      // freed when the ContextCleaner GCs the lineage — SQL cache blocks
      // are released by `spark.catalog.clearCache()` (which every long
      // multi-query session, e.g. the bench loop, already calls).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val schema = sorted.schema
    val vIdx = schema.fieldIndex(valueCol)
    val vType = schema(vIdx).dataType
    val getD = InternalScan.doubleGetter(vType, vIdx)
    val getL: InternalRow => Long =
      if (integral) InternalScan.longGetter(vType, vIdx) else _ => 0L
    val step: (St, InternalRow) => St = (st, r) => {
      st.bump()
      if (!r.isNullAt(vIdx)) st.add(getD(r), getL(r))
      st
    }

    val minObs = math.max(minPeriods, 1)
    def outType(a: String): DataType = a match {
      case "count"                      => LongType
      case "sum" | "min" | "max"        => if (integral) LongType else DoubleType
      case _                            => DoubleType
    }
    // integral var from the exact Long power sums, in ONE fixed double-op
    // sequence (order-independent; an oracle computing the same sequence
    // from the same sums matches bit-for-bit).  Cancellation is bounded:
    // callers hold |x| small enough that Σx² fits a Long anyway.
    def intVar(st: St): Double =
      (st.sum2L.toDouble - st.sumL.toDouble * st.sumL.toDouble / st.n) / (st.n - 1)
    def emit(a: String, st: St): Any = a match {
      case _ if a != "count" && st.n < minObs => null
      // pandas: count's min_periods is met by window ROWS (a leading null
      // row emits 0), every other agg needs `minObs` OBSERVATIONS
      case "count" => if (st.rows < minPeriods) null else st.n
      case "sum"   => if (integral) st.sumL else st.sumD
      case "mean"  => if (integral && !st.big) st.sumL.toDouble / st.n else st.mean
      case "min"   => if (integral) st.mnL else st.mn
      case "max"   => if (integral) st.mxL else st.mx
      case "var" =>
        if (st.n < 2) null
        else if (integral && !st.big) intVar(st) else st.m2 / (st.n - 1)
      case "std" =>
        if (st.n < 2) null
        else if (integral && !st.big) math.sqrt(intVar(st))
        else math.sqrt(st.m2 / (st.n - 1))
    }

    val outSchema = specs.foldLeft(schema) { case (sc, (out, a)) =>
      sc.add(out, outType(a), nullable = true) }
    val specsL = specs.toArray
    val extraTypes = specsL.map { case (_, a) => outType(a) }.toSeq
    val fold = PrefixScan.Fold[InternalRow, St](
      _.foldLeft(St.empty)(step), () => St.empty, _ merge _)
    PrefixScan.frame(sorted, outSchema, PrefixScan.Tree, fold) { (seed, it) =>
      val st = seed.copySt()
      val append = new InternalScan.Append(schema, extraTypes)
      val vals = new Array[Any](specsL.length)
      it.map { r =>
        step(st, r)
        var i = 0
        while (i < specsL.length) { vals(i) = emit(specsL(i)._2, st); i += 1 }
        append.applyAll(r, vals)
      }
    }
  }

  /** Single-aggregate convenience used by [[graft.api.GRolling.expanding]]. */
  def agg(df: DataFrame, valueCol: String, orderBy: Seq[String],
          out: String, aggName: String, minPeriods: Int = 1): DataFrame =
    aggs(df, valueCol, orderBy, Seq(out -> aggName), minPeriods)
}
