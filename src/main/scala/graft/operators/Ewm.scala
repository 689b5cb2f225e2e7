package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampNTZType, TimestampType}

/** Decay parameterization + option surface of pandas/dask `ewm` (pandas
  * `core/window/ewm.py`): `com`, `span` and `halflife` are pure alpha
  * transforms; `adjust` and `ignoreNa` change the weight scheme:
  *
  *   - adjust=true  (default): w_i = (1-α)^{d_i} — the expanding-window
  *     weighted mean, mean = S/W.
  *   - adjust=false: the recurrence y_t = (1-α)·y_{t-1} + α·x_t seeded
  *     with y_0 = x_0 — equivalently the SAME decayed sums with the
  *     first observation weighted 1 and every later one weighted α
  *     (total weight is exactly 1 from the first observation on).
  *   - ignoreNa=false (default): nulls decay the accumulators (weights
  *     count ROW distance); ignoreNa=true: nulls are skipped entirely
  *     (weights count OBSERVATION distance).
  *
  * Variance always uses the pandas bias=False correction
  * W²/(W²−W2)·(S2/W − mean²) over whichever weight scheme is active.
  */
final case class EwmParams(alpha: Double, adjust: Boolean = true,
                           ignoreNa: Boolean = false) {
  require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
}

object EwmParams {
  def alpha(a: Double): EwmParams = EwmParams(a)
  /** center of mass: alpha = 1/(1+com), com >= 0 */
  def com(c: Double): EwmParams = {
    require(c >= 0.0, s"com must be >= 0: $c"); EwmParams(1.0 / (1.0 + c))
  }
  /** span: alpha = 2/(span+1), span >= 1 */
  def span(s: Double): EwmParams = {
    require(s >= 1.0, s"span must be >= 1: $s"); EwmParams(2.0 / (s + 1.0))
  }
  /** halflife: alpha = 1 - exp(-ln2 / halflife), halflife > 0 */
  def halflife(h: Double): EwmParams = {
    require(h > 0.0, s"halflife must be > 0: $h")
    EwmParams(1.0 - math.exp(-math.log(2.0) / h))
  }
}

/** Distributed exponentially-weighted moving statistics — pandas/dask
  * `Series.ewm(...).mean()/var()/std()` (reference:
  * `dask/dataframe/dask_expr/_rolling.py` ewm surface; pandas
  * `core/window/ewm.py` semantics), full parameter surface via
  * [[EwmParams]]. A naive SQL restatement needs an unbounded self-join or
  * a single-task window; both the global and the keyed form here are a
  * [[PrefixScan]] whose carry is the DECAY-COMPOSED state of the per-row
  * recurrences
  *
  *   S  = q·S  + wt·x    (decayed value sum,      q = 1-α)
  *   W  = q·W  + wt      (decayed weight sum)
  *   S2 = q·S2 + wt·x²   (decayed square sum)
  *   W2 = q²·W2 + wt²    (decayed SQUARED-weight sum, bias correction)
  *
  * Carry contract: a run of L rows composes after an earlier state `c` as
  * `c·q^L + s` (`c·q²^L + s` for W2). adjust=false weights the first
  * observation 1 and every later one α, so a summary ([[Seg]]) holds the
  * end state under both conventions and the merge picks by whether the
  * left side observed a value. The composition is associative in exact
  * arithmetic but NOT in floating point, and the q157/q162 oracle hashes
  * pin the left-fold ulps — so the carry is [[PrefixScan.Sequential]],
  * never the tree (an O(npartitions) driver payload of a few scalars per
  * partition). The keyed form runs the same [[Seg]] fold as the state of
  * [[PrefixScan.grouped]], also under the Sequential carry: a group's
  * state restarts at the empty run at its head, and a group that spans
  * partitions composes its partial runs left to right.
  *
  * Null rows contribute no weight but (ignoreNa=false) decay the
  * accumulators; the emitted mean carries the last available estimate,
  * as pandas does. `ewm_var` is null until two observations are seen.
  */
object Ewm {

  /** A run of rows, summarized for composition: the end sums
    * (s, w, s2, w2) if no earlier observation exists (`first`) and if one
    * does (`later`), the run's decay factors q^L and q²^L, whether it
    * observed a value, and its row count. A run that starts the series
    * (or a group) is its own state: `first` holds its sums.
    */
  private final case class Seg(first: Array[Double], later: Array[Double], d: Double,
      d2: Double, seen: Boolean, n: Long) {
    private def w = first(1)
    def mean: Any = if (w > 0) first(0) / w else null
    def varU: Any = {
      val denom = w * w - first(3)
      if (w > 0 && denom > 0) {
        val m = first(0) / w
        math.max(0.0, (first(2) / w - m * m) * w * w / denom)
      } else null
    }
    /** (rn or grn, ewm_mean, ewm_var) after the run's last row */
    def stats: Array[Any] = Array(n - 1, mean, varU)
  }

  private val emptySeg = Seg(new Array(4), new Array(4), 1.0, 1.0, seen = false, 0L)

  /** A run of rows under time decay: its end sums at its last timestamp,
    * whether it has a row, and its row count.
    */
  private final case class TSeg(s: Double, w: Double, lastTs: Double, any: Boolean, n: Long)

  /** The one EWM fold of both forms: `step` extends a run by the row's
    * `valueCol`, `merge` composes two adjacent runs.
    */
  private final class Recurrence(p: EwmParams, schema: StructType, valueCol: String)
      extends Serializable {
    private val q = 1.0 - p.alpha
    private val vIdx = schema.fieldIndex(valueCol)
    private val getD = InternalScan.doubleGetter(schema(vIdx).dataType, vIdx)

    /** the sums `a` after one row; `hadObs`: an observation precedes it */
    private def advance(a: Array[Double], isObs: Boolean, x: Double, hadObs: Boolean): Array[Double] = {
      var s = a(0); var w = a(1); var s2 = a(2); var w2 = a(3)
      if (isObs || !p.ignoreNa) { s *= q; w *= q; s2 *= q; w2 *= q * q }
      if (isObs) {
        val wt = if (p.adjust || !hadObs) 1.0 else p.alpha
        s += wt * x; w += wt; s2 += wt * x * x; w2 += wt * wt
      }
      Array(s, w, s2, w2)
    }

    def step(c: Seg, r: InternalRow): Seg = {
      val isObs = !r.isNullAt(vIdx)
      val x = if (isObs) getD(r) else 0.0
      val decays = isObs || !p.ignoreNa
      Seg(advance(c.first, isObs, x, c.seen), advance(c.later, isObs, x, hadObs = true),
        if (decays) c.d * q else c.d, if (decays) c.d2 * (q * q) else c.d2,
        c.seen || isObs, c.n + 1)
    }

    def merge(a: Seg, b: Seg): Seg = {
      def decayed(c: Array[Double], s: Array[Double]) =
        Array(c(0) * b.d + s(0), c(1) * b.d + s(1), c(2) * b.d + s(2), c(3) * b.d2 + s(3))
      Seg(decayed(a.first, if (a.seen) b.later else b.first), decayed(a.later, b.later),
        a.d * b.d, a.d2 * b.d2, a.seen || b.seen, a.n + b.n)
    }
  }

  private val statTypes = Seq(LongType, DoubleType, DoubleType)

  /** Back-compat: the adjust=True, ignoreNa=False default of round 6. */
  def statsIndexed(df: DataFrame, valueCol: String, alpha: Double): DataFrame =
    statsIndexed(df, valueCol, EwmParams(alpha))

  /** Returns (rn BIGINT, ewm_mean DOUBLE, ewm_var DOUBLE) in the input's
    * global row order — `rn` is the 0-based global index, so callers can
    * sample/join positionally. Input must already be globally sorted
    * (e.g. `df.sort(...)`): partition index order IS row order, exactly
    * the contract [[Cumulative]] documents.
    */
  def statsIndexed(df: DataFrame, valueCol: String, p: EwmParams): DataFrame = {
    val rec = new Recurrence(p, df.schema, valueCol)
    val fold = PrefixScan.Fold[InternalRow, Seg](_.foldLeft(emptySeg)(rec.step), () => emptySeg,
      rec.merge)
    val outSchema = StructType(Seq(
      StructField("rn", LongType, nullable = false),
      StructField("ewm_mean", DoubleType, nullable = true),
      StructField("ewm_var", DoubleType, nullable = true)))
    PrefixScan.frame(df, outSchema, PrefixScan.Sequential, fold) { (seed, it) =>
      var c = seed
      // appends to an empty row: the output is the three stats alone
      val emit = new InternalScan.Append(new StructType(), statTypes)
      it.map { r => c = rec.step(c, r); emit.applyAll(InternalRow.empty, c.stats) }
    }
  }

  /** pandas `ewm(halflife=timedelta, times=col).mean()` — IRREGULAR
    * time-based decay: observation i weighs `0.5^((t_now - t_i) /
    * halflife)`, so gaps decay more than dense stretches (pandas allows
    * only `mean` for times-based halflife; same here). Null values
    * contribute nothing but time still passes. Input must be sorted by
    * `tsCol` (nondecreasing), as pandas requires monotonic times.
    *
    * Carry contract: a summary is a run's end state at its last timestamp
    * ([[TSeg]]); an earlier state composes by decaying over the gap
    * between the two runs' last timestamps, `c·0.5^(Δt/h) + s` — floating
    * point that must not reassociate, so the carry is
    * [[PrefixScan.Sequential]] as in [[statsIndexed]]. Returns
    * (rn BIGINT, ewm_mean DOUBLE).
    */
  def statsIndexedTimes(df: DataFrame, valueCol: String, tsCol: String,
                        halflifeSec: Double): DataFrame = {
    require(halflifeSec > 0.0, s"halflife must be > 0: $halflifeSec")
    val vIdx = df.schema.fieldIndex(valueCol)
    val tIdx = df.schema.fieldIndex(tsCol)
    val getD = InternalScan.doubleGetter(df.schema(vIdx).dataType, vIdx)

    // InternalRow timestamps are MICROSECONDS; the former Row path read
    // java.sql.Timestamp.getTime (floorDiv(micros,1000) MILLIS) / 1000.0.
    // Reproduce that exact millisecond truncation — µs-resolution seconds
    // would move every decay factor by an ulp and break the oracle hash.
    val tsOf: InternalRow => Double = df.schema(tIdx).dataType match {
      case TimestampType | TimestampNTZType => r => Math.floorDiv(r.getLong(tIdx), 1000L) / 1000.0
      case dt => InternalScan.doubleGetter(dt, tIdx)
    }
    def decay(dtSec: Double): Double = math.pow(0.5, dtSec / halflifeSec)
    // one row: decay the sums over the gap since the previous row, add the value
    val step: (TSeg, InternalRow) => TSeg = (c, r) => {
      val t = tsOf(r)
      var s = c.s; var w = c.w
      if (c.any) { val d = decay(t - c.lastTs); s *= d; w *= d }
      if (!r.isNullAt(vIdx)) { s += getD(r); w += 1.0 }
      TSeg(s, w, t, any = true, c.n + 1)
    }
    val empty = TSeg(0.0, 0.0, 0.0, any = false, 0L)
    val fold = PrefixScan.Fold[InternalRow, TSeg](_.foldLeft(empty)(step), () => empty,
      (a, b) =>
        if (!b.any) a.copy(n = a.n + b.n)
        else if (!a.any) b.copy(n = a.n + b.n)
        else {
          val d = decay(b.lastTs - a.lastTs)
          TSeg(a.s * d + b.s, a.w * d + b.w, b.lastTs, any = true, a.n + b.n)
        })
    val outSchema = StructType(Seq(
      StructField("rn", LongType, nullable = false),
      StructField("ewm_mean", DoubleType, nullable = true)))
    PrefixScan.frame(df, outSchema, PrefixScan.Sequential, fold) { (seed, it) =>
      var c = seed
      val emit = new InternalScan.Append(new StructType(), Seq(LongType, DoubleType))
      it.map { r =>
        c = step(c, r)
        emit.applyAll(InternalRow.empty, Array(c.n - 1, if (c.w > 0) c.s / c.w else null))
      }
    }
  }

  /** Back-compat: the adjust=True, ignoreNa=False default of round 6. */
  def statsKeyed(df: DataFrame, keyCol: String, orderCols: Seq[String],
                 valueCol: String, alpha: Double): DataFrame =
    statsKeyed(df, keyCol, orderCols, valueCol, EwmParams(alpha))

  /** Keyed EWM — pandas `groupby(key).ewm(...).mean()/var()`: the rows
    * are range-arranged on (key ++ order) and each group runs the global
    * form's recurrences through [[PrefixScan.grouped]] under the
    * Sequential carry, so a hot key spans partitions instead of one task.
    * Returns (key, order..., grn, ewm_mean, ewm_var) rows, `grn` being
    * the 0-based index within the group (for positional sampling/joins).
    * Null group keys are dropped, as pandas groupby does; null order
    * values sort first (Spark/pandas NULLS FIRST default).
    */
  def statsKeyed(df: DataFrame, keyCol: String, orderCols: Seq[String],
                 valueCol: String, p: EwmParams): DataFrame = {
    val v = "__ewm_value"
    val base = df.filter(col(keyCol).isNotNull)
      .select((keyCol +: orderCols).map(col) :+ col(valueCol).as(v): _*)
    val schema = base.schema
    val rec = new Recurrence(p, schema, v)
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("grn", LongType, nullable = false),
      StructField("ewm_mean", DoubleType, nullable = true),
      StructField("ewm_var", DoubleType, nullable = true)))
    PrefixScan.grouped(base, Seq(keyCol), orderCols.map(col), outSchema, PrefixScan.Sequential)(
        emptySeg, rec.step, rec.merge) { () =>
      val append = new InternalScan.Append(schema, statTypes)
      (r, c) => append.applyAll(r, c.stats)
    }.drop(v)
  }
}
