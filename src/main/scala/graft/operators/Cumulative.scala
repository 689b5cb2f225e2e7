package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}

import scala.reflect.ClassTag

/** Distributed cumulative aggregates (cumsum / cumprod / cummax / cummin),
  * global and grouped — reference:
  * `dask/dataframe/dask_expr/_cumulative.py:20-160`. A SQL window without
  * PARTITION BY runs in ONE task in Spark; both forms here are a
  * [[PrefixScan]] over any number of partitions instead.
  *
  * Carry contract: a partition's summary is the op folded over its
  * non-null values, and summaries merge with the op itself — associative,
  * with the op's identity as the empty summary, so both forms ride the
  * [[PrefixScan.Tree]] carry. Integral inputs keep a Long accumulator and
  * a long output column (pandas int64 cumsum) and are exact under any
  * split. Float inputs accumulate as Double; partition totals reassociate
  * + and ×, so a float result may move by an ulp with the partition
  * boundaries.
  *
  * Nulls behave pandas-style: they don't advance the accumulator and the
  * output at a null position is null.
  */
object Cumulative {

  sealed trait Op {
    def zero: Double
    def combine(a: Double, b: Double): Double
    def zeroL: Long
    def combineL(a: Long, b: Long): Long
  }
  case object CumSum extends Op {
    val zero = 0.0; def combine(a: Double, b: Double): Double = a + b
    val zeroL = 0L; def combineL(a: Long, b: Long): Long = a + b
  }
  case object CumProd extends Op {
    val zero = 1.0; def combine(a: Double, b: Double): Double = a * b
    val zeroL = 1L; def combineL(a: Long, b: Long): Long = a * b
  }
  case object CumMax extends Op {
    val zero = Double.NegativeInfinity; def combine(a: Double, b: Double): Double = math.max(a, b)
    val zeroL = Long.MinValue; def combineL(a: Long, b: Long): Long = math.max(a, b)
  }
  case object CumMin extends Op {
    val zero = Double.PositiveInfinity; def combine(a: Double, b: Double): Double = math.min(a, b)
    val zeroL = Long.MaxValue; def combineL(a: Long, b: Long): Long = math.min(a, b)
  }

  /** The accumulator of value column `vIdx`: Long for integral types,
    * Double otherwise. `step` advances it by one row.
    */
  private final case class Acc[T](vIdx: Int, outType: DataType, zero: T,
      combine: (T, T) => T, get: InternalRow => T)(implicit val tag: ClassTag[T]) {
    def step(s: T, r: InternalRow): T = if (r.isNullAt(vIdx)) s else combine(s, get(r))
    /** Per-task emitter: the running value, null at a null input. */
    def out(schema: StructType): () => (InternalRow, T) => InternalRow = () => {
      val append = new InternalScan.Append(schema, Seq(outType))
      (r, s) => append(r, if (r.isNullAt(vIdx)) null else s)
    }
  }

  private def acc(df: DataFrame, valueCol: String, op: Op): Acc[_] = {
    val vIdx = df.schema.fieldIndex(valueCol)
    val dt = df.schema(vIdx).dataType
    if (InternalScan.isIntegral(dt))
      Acc[Long](vIdx, LongType, op.zeroL, op.combineL, InternalScan.longGetter(dt, vIdx))
    else Acc[Double](vIdx, DoubleType, op.zero, op.combine, InternalScan.doubleGetter(dt, vIdx))
  }

  /** Skew-resilient GROUPED running aggregate — the scale alternative to
    * the SQL-window path in `GGroupBy.cumsum`/`cumprod`.
    *
    * The window path partitions by the group keys, so one task owns each
    * whole group: correct and pandas-bit-identical, but a zipf-hot group
    * (the round-14 skew replica put 15% of the fact on ONE key) becomes a
    * single straggler task. The reference has the same bound (whole-group
    * partitions, `dask_expr/_groupby.py:468`). [[PrefixScan.grouped]]
    * removes it: a hot group spans partitions and its running state
    * carries across them.
    */
  def grouped(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      valueCol: String, op: Op, outCol: String): DataFrame =
    acc(df, valueCol, op) match {
      case a: Acc[t] =>
        PrefixScan.grouped(df, groupCols, orderCols.map(col), df.schema.add(outCol, a.outType),
          PrefixScan.Tree)(a.zero, a.step, a.combine)(a.out(df.schema))
    }

  /** Adds `outCol` = running aggregate of `valueCol` in global index order. */
  def apply(df: DataFrame, valueCol: String, op: Op, outCol: String): DataFrame =
    acc(df, valueCol, op) match {
      case a: Acc[t] =>
        import a.tag
        val fold = PrefixScan.Fold[InternalRow, t](_.foldLeft(a.zero)(a.step), () => a.zero, a.combine)
        val out = a.out(df.schema)
        PrefixScan.frame(df, df.schema.add(outCol, a.outType), PrefixScan.Tree, fold) { (seed, it) =>
          var s = seed
          val emit = out()
          it.map { r => s = a.step(s, r); emit(r, s) }
        }
    }
}
