package graft.api

import graft.operators.MapOverlap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Rolling / expanding windows — reference `dask_expr/_rolling.py:45-343`.
  *
  * Physical paths, mirroring the reference's blockwise-vs-MapOverlap
  * lowering:
  *   - `partitionBy` keys present → native SQL window (parallel per key,
  *     whole-stage codegen) for the named aggregates;
  *   - global order, no keys → [[MapOverlap]] ghost-row scan, because an
  *     un-partitioned SQL window is a single task in Spark and would not
  *     survive cluster scale;
  *   - keys with a custom kernel (`aggTree`, `applyKeyed`) → the same
  *     ghost-row kernel over the range-arranged keys
  *     ([[MapOverlap.rollingAggGrouped]]), where a hot key spans
  *     partitions instead of one task.
  */
final class GRolling(
    df: DataFrame,
    window: Int,
    orderBy: Seq[String],
    partitionBy: Seq[String],
    minPeriods: Int) {

  private def spec: WindowSpec = {
    val base =
      if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
      else Window.partitionBy()
    base.orderBy(orderBy.map(col): _*).rowsBetween(-(window - 1), Window.currentRow)
  }

  /** pandas min_periods counts non-null OBSERVATIONS in the window, not
    * window rows — same contract as the global MapOverlap path.
    */
  private def guarded(valueCol: String, c: Column): Column = {
    val obs = org.apache.spark.sql.functions.count(col(valueCol)).over(spec)
    if (minPeriods <= 1) c else when(obs >= minPeriods, c).otherwise(lit(null))
  }

  private def add(name: String, valueCol: String, c: Column): DataFrame =
    df.withColumn(name, guarded(valueCol, c))

  /** Skew-resilient keyed rolling aggregate — the scale alternative to
    * the per-key SQL window (one task per whole group): range-splits hot
    * groups across partitions and windows them through the group-aware
    * ghost-row overlap scan ([[MapOverlap.rollingAggGrouped]]). Same
    * contract as the grouped scan family (`cumsumTree`/`ffillTree`).
    * Requires keys; `agg` sees the window's valid observations oldest
    * first, exactly like the global MapOverlap kernels.
    */
  def aggTree(valueCol: String, out: String,
      outType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.DoubleType)
      (agg: Seq[Double] => Any): DataFrame = {
    require(partitionBy.nonEmpty, "aggTree is the keyed-rolling scale path")
    MapOverlap.rollingAggGrouped(df, partitionBy, orderBy, valueCol,
      window, out, minPeriods, outType)(agg)
  }

  def sumTree(valueCol: String, out: String): DataFrame =
    aggTree(valueCol, out)(_.sum)

  def meanTree(valueCol: String, out: String): DataFrame =
    aggTree(valueCol, out)(xs => if (xs.isEmpty) null else xs.sum / xs.size)

  def sum(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingSum(df, valueCol, window, out, minPeriods)
    else {
      // pandas min_periods=0: an all-null window sums to 0, not null
      val s = org.apache.spark.sql.functions.sum(col(valueCol)).over(spec)
      add(out, valueCol, if (minPeriods == 0) coalesce(s, lit(0)) else s)
    }

  def mean(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingMean(df, valueCol, window, out, minPeriods)
    else add(out, valueCol, avg(col(valueCol)).over(spec))

  // Every agg has the same two paths as sum/mean: keyed → native window,
  // global → MapOverlap ghost rows (an un-partitioned SQL window is one task).
  def min(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, minPeriods)(
        xs => if (xs.isEmpty) null else xs.min)
    else add(out, valueCol, org.apache.spark.sql.functions.min(col(valueCol)).over(spec))
  def max(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, minPeriods)(
        xs => if (xs.isEmpty) null else xs.max)
    else add(out, valueCol, org.apache.spark.sql.functions.max(col(valueCol)).over(spec))
  def count(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, minPeriods,
        org.apache.spark.sql.types.LongType)(_.size.toLong)
    else add(out, valueCol, org.apache.spark.sql.functions.count(col(valueCol)).over(spec))
  def std(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, minPeriods)(GRolling.sampleStd)
    else add(out, valueCol, stddev_samp(col(valueCol)).over(spec))
  def variance(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, minPeriods)(GRolling.sampleVar)
    else add(out, valueCol, var_samp(col(valueCol)).over(spec))

  /** rolling quantile (linear interpolation, pandas default) — exact
    * `percentile` is window-able in Spark; global path interpolates inside
    * the MapOverlap kernel with the same (n-1)·q rule.
    */
  def quantile(valueCol: String, q: Double, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, minPeriods) { xs =>
        if (xs.isEmpty) null
        else {
          val s = xs.sorted
          val h = (s.size - 1) * q
          val lo = h.toInt
          if (lo + 1 >= s.size) s.last else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
        }
      }
    else add(out, valueCol, percentile(col(valueCol), lit(q)).over(spec))

  def median(valueCol: String, out: String): DataFrame = quantile(valueCol, 0.5, out)

  /** pandas `Rolling.agg(fn-name)` (`_rolling.py:235` Rolling.agg):
    * name-dispatch onto the per-agg members, so spec-driven callers have
    * the same entry point as the reference.
    */
  def agg(valueCol: String, fnName: String, out: String): DataFrame = fnName match {
    case "sum"          => sum(valueCol, out)
    case "mean" | "avg" => mean(valueCol, out)
    case "min"          => min(valueCol, out)
    case "max"          => max(valueCol, out)
    case "count"        => count(valueCol, out)
    case "median"       => median(valueCol, out)
    case "var"          => variance(valueCol, out)
    case "std"          => std(valueCol, out)
    case "skew"         => skew(valueCol, out)
    case "kurt"         => kurt(valueCol, out)
    case other => throw new IllegalArgumentException(
      s"rolling agg: unsupported function '$other'")
  }

  /** pandas rolling.skew / rolling.kurt — ADJUSTED (sample) statistics,
    * G1 = √(n(n-1))/(n-2) · m₃/m₂^1.5 and
    * G2 = ((n+1)(m₄/m₂² − 3) + 6)(n-1)/((n-2)(n-3)) — which differ from
    * Spark's built-in biased `skewness`/`kurtosis`; computed from raw
    * power sums over the window on both physical paths.
    */
  def skew(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, math.max(minPeriods, 3))(
        GRolling.sampleSkew)
    else addMoment(valueCol, out, isSkew = true)
  def kurt(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingAgg(df, valueCol, window, out, math.max(minPeriods, 4))(
        GRolling.sampleKurt)
    else addMoment(valueCol, out, isSkew = false)

  private def addMoment(valueCol: String, out: String, isSkew: Boolean): DataFrame = {
    // Central moments are shift-invariant, but deriving them from RAW
    // power sums (m2 = Σx²/n − mean², …) cancels catastrophically when
    // |mean| ≫ std (e.g. prices ~1e5).  Shift every value by a per-group
    // anchor (the group min — deterministic, unlike first()) before
    // forming the power sums: the shifted mean is O(window spread), so
    // the subtraction keeps its significant digits.
    val anchored = df.withColumn("__anchor__",
      org.apache.spark.sql.functions.min(col(valueCol).cast("double"))
        .over(Window.partitionBy(partitionBy.map(col): _*)))
    val x = col(valueCol).cast("double") - col("__anchor__")
    val n = org.apache.spark.sql.functions.count(x).over(spec).cast("double")
    val s1 = org.apache.spark.sql.functions.sum(x).over(spec)
    val s2 = org.apache.spark.sql.functions.sum(x * x).over(spec)
    val s3 = org.apache.spark.sql.functions.sum(x * x * x).over(spec)
    val mean = s1 / n
    val m2 = s2 / n - mean * mean
    val m3 = s3 / n - lit(3.0) * mean * (s2 / n) + lit(2.0) * mean * mean * mean
    val mp = lit(math.max(minPeriods, if (isSkew) 3 else 4))
    val stat =
      if (isSkew)
        when(n >= mp && m2 > 0,
          sqrt(n * (n - 1)) / (n - 2) * m3 / pow(m2, 1.5))
      else {
        val s4 = org.apache.spark.sql.functions.sum(x * x * x * x).over(spec)
        val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
          lit(6.0) * mean * mean * (s2 / n) - lit(3.0) * mean * mean * mean * mean
        when(n >= mp && m2 > 0,
          ((n + 1) * (m4 / (m2 * m2) - lit(3.0)) + lit(6.0)) * (n - 1) /
            ((n - 2) * (n - 3)))
      }
    anchored.withColumn(out, stat).drop("__anchor__")
  }

  /** Keyed rolling with a CUSTOM kernel — reference `RollingApply` /
    * `RollingAgg` (`_rolling.py:219-230`); the global-order equivalent is
    * [[MapOverlap.rollingAgg]]. Runs [[MapOverlap.rollingAggGrouped]], the
    * range-arranged grouped kernel: no per-group materialization beyond
    * `window` rows, hot keys span partitions, any `Seq[Double] => Any`
    * kernel. The kernel sees the window's non-null observations in row
    * order and runs only when there are at least max(minPeriods, 1) of
    * them (pandas `.apply` contract).
    */
  def applyKeyed(valueCol: String, out: String,
                 resultType: org.apache.spark.sql.types.DataType =
                   org.apache.spark.sql.types.DoubleType)
                (kernel: Seq[Double] => Any): DataFrame = {
    require(partitionBy.nonEmpty,
      "applyKeyed needs partitionBy keys; use MapOverlap.rollingAgg for a global order")
    MapOverlap.rollingAggGrouped(df, partitionBy, orderBy, valueCol, window, out,
      math.max(minPeriods, 1), resultType)(kernel)
  }

  /** pandas rolling.cov / rolling.corr between two columns.  Keyed →
    * native SQL window; global → [[MapOverlap.rollingPairAgg]] ghost-row
    * kernel over BOTH columns (an un-partitioned window is one task).
    * min_periods counts non-null PAIRS on both paths (the population
    * `covar_samp`/`corr` aggregate over — pandas cov/corr contract).
    */
  private def guardedPair(xCol: String, yCol: String, c: Column): Column = {
    val obs = org.apache.spark.sql.functions
      .count(when(col(xCol).isNotNull && col(yCol).isNotNull, lit(1))).over(spec)
    if (minPeriods <= 1) c else when(obs >= minPeriods, c).otherwise(lit(null))
  }
  def covWith(xCol: String, yCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingPairAgg(df, xCol, yCol, window, out,
        math.max(minPeriods, 1))(m => if (m.n < 2) null else m.cxy / (m.n - 1))
    else
      df.withColumn(out, guardedPair(xCol, yCol, covar_samp(col(xCol), col(yCol)).over(spec)))
  def corrWith(xCol: String, yCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingPairAgg(df, xCol, yCol, window, out,
        math.max(minPeriods, 1)) { m =>
        if (m.n < 2) null
        // zero-variance side → NaN, matching the keyed path's Spark corr
        // (n≥2, 0/0), pandas rolling.corr AND DuckDB's window corr.  The
        // deque extrema make this EXACT (all window values identical),
        // the same answer a per-window recompute gives — an fp threshold
        // on the incrementally-maintained cxx would misclassify near the
        // boundary.  cxx<=0 stays as a drift belt-and-braces guard.
        else if (m.constX || m.constY) Double.NaN
        else if (m.cxx <= 0.0 || m.cyy <= 0.0) Double.NaN
        // Cauchy–Schwarz clamp: fp can land a hair outside [-1, 1]
        else math.max(-1.0, math.min(1.0, m.cxy / math.sqrt(m.cxx * m.cyy)))
      }
    else
      df.withColumn(out, guardedPair(xCol, yCol, corr(col(xCol), col(yCol)).over(spec)))

  /** `center=True` frame: pandas window w centered → [-w/2, w - w/2 - 1]
    * (reference `_rolling.py:114-153` splits before/after the same way).
    */
  private def centerSpec: WindowSpec = {
    val base =
      if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
      else Window.partitionBy()
    base.orderBy(orderBy.map(col): _*)
      .rowsBetween(-(window / 2), window - window / 2 - 1)
  }

  /** min_periods counts non-null observations, same as the trailing path */
  private def guardedCentered(valueCol: String, c: Column): Column = {
    val obs = org.apache.spark.sql.functions.count(col(valueCol)).over(centerSpec)
    if (minPeriods <= 1) c else when(obs >= minPeriods, c).otherwise(lit(null))
  }

  def meanCentered(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingCenteredAgg(df, valueCol, window, out, minPeriods)(
        xs => if (xs.isEmpty) null else xs.sum / xs.size)
    else df.withColumn(out, guardedCentered(valueCol, avg(col(valueCol)).over(centerSpec)))
  def sumCentered(valueCol: String, out: String): DataFrame =
    if (partitionBy.isEmpty)
      MapOverlap.rollingCenteredAgg(df, valueCol, window, out, minPeriods)(_.sum)
    else {
      // pandas min_periods=0: an all-null window sums to 0, not null
      val s = org.apache.spark.sql.functions.sum(col(valueCol)).over(centerSpec)
      df.withColumn(out,
        guardedCentered(valueCol, if (minPeriods == 0) coalesce(s, lit(0)) else s))
    }

  /** time-range rolling (`rolling("10s")`): window is an interval on the
    * order column rather than a row count.  Keyed → native range window;
    * global → value-based MapOverlap ghosts (an un-partitioned range
    * window is one task).
    */
  def sumRange(valueCol: String, out: String, rangeSeconds: Long): DataFrame = {
    require(orderBy.size == 1, "range rolling needs a single time order column")
    // Timestamp orders keep their FULL microsecond resolution (pandas
    // Timedelta-window semantics): truncating to whole seconds would
    // collapse sub-second spacing into ties and change window membership.
    // Non-timestamp (numeric) orders are used as-is.
    val ordType = df.schema(orderBy.head).dataType
    val isTs = ordType == org.apache.spark.sql.types.TimestampType ||
      ordType == org.apache.spark.sql.types.TimestampNTZType
    if (partitionBy.isEmpty) {
      val ordNum = "__ord_num__"
      val ordVal =
        if (isTs) unix_micros(col(orderBy.head).cast("timestamp")).cast("double") / lit(1e6)
        else col(orderBy.head).cast("double")
      MapOverlap.rollingRangeAgg(
          df.withColumn(ordNum, ordVal),
          valueCol, ordNum, rangeSeconds.toDouble, out, minPeriods)(_.sum)
        .drop(ordNum)
    } else {
      // numeric orders keep full double resolution on the keyed path too:
      // cast("long") would truncate fractional spacing into ties and
      // change window membership vs the global MapOverlap path
      val (ordExpr, lo) =
        if (isTs) (unix_micros(col(orderBy.head).cast("timestamp")), -rangeSeconds * 1000000L)
        else (col(orderBy.head).cast("double"), -rangeSeconds)
      val w = Window.partitionBy(partitionBy.map(col): _*)
        .orderBy(ordExpr)
        .rangeBetween(lo, 0)
      val s = org.apache.spark.sql.functions.sum(col(valueCol)).over(w)
      val obs = org.apache.spark.sql.functions.count(col(valueCol)).over(w)
      df.withColumn(out,
        if (minPeriods <= 1) s else when(obs >= minPeriods, s).otherwise(lit(null)))
    }
  }
}

object GRolling {
  /** sample variance (ddof=1) over a window's non-null values; null for
    * n < 2, matching `var_samp` / pandas rolling `.var()`
    */
  private[api] val sampleVar: Seq[Double] => Any = { xs =>
    if (xs.size < 2) null
    else {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)
    }
  }
  private[api] val sampleStd: Seq[Double] => Any = { xs =>
    sampleVar(xs) match { case null => null; case v: Double => math.sqrt(v) }
  }

  private def centralMoments(xs: Seq[Double]): (Double, Double, Double, Double) = {
    val n = xs.size.toDouble
    val mean = xs.sum / n
    var m2 = 0.0; var m3 = 0.0; var m4 = 0.0
    xs.foreach { x =>
      val d = x - mean
      m2 += d * d; m3 += d * d * d; m4 += d * d * d * d
    }
    (n, m2 / n, m3 / n, m4 / n)
  }

  /** adjusted Fisher-Pearson skewness (pandas rolling.skew) */
  private[api] val sampleSkew: Seq[Double] => Any = { xs =>
    val (n, m2, m3, _) = centralMoments(xs)
    if (n < 3 || m2 <= 0) null
    else math.sqrt(n * (n - 1)) / (n - 2) * m3 / math.pow(m2, 1.5)
  }

  /** sample excess kurtosis (pandas rolling.kurt) */
  private[api] val sampleKurt: Seq[Double] => Any = { xs =>
    val (n, m2, _, m4) = centralMoments(xs)
    if (n < 4 || m2 <= 0) null
    else ((n + 1) * (m4 / (m2 * m2) - 3.0) + 6.0) * (n - 1) / ((n - 2) * (n - 3))
  }

  /** expanding() = rolling with an unbounded-preceding frame.  Keyed →
    * native SQL window (parallel per key); global → the two-phase prefix
    * scan in [[graft.operators.Expanding]] — an un-partitioned
    * `ROWS UNBOUNDED PRECEDING` window is a single task in Spark and
    * would serialize the whole dataset at cluster scale.
    */
  def expanding(df: DataFrame, orderBy: Seq[String], partitionBy: Seq[String],
                valueCol: String, out: String, agg: String): DataFrame = {
    if (partitionBy.isEmpty)
      return graft.operators.Expanding.agg(df, valueCol, orderBy, out, agg)
    val base = Window.partitionBy(partitionBy.map(col): _*)
    val w = base.orderBy(orderBy.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = agg match {
      case "sum"   => sum(col(valueCol))
      case "mean"  => avg(col(valueCol))
      case "min"   => org.apache.spark.sql.functions.min(col(valueCol))
      case "max"   => org.apache.spark.sql.functions.max(col(valueCol))
      case "count" => org.apache.spark.sql.functions.count(col(valueCol))
      case "std"   => stddev_samp(col(valueCol))
      case "var"   => var_samp(col(valueCol))
      case other   => throw new IllegalArgumentException(s"expanding agg=$other")
    }
    df.withColumn(out, c.over(w))
  }
}
