package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.types._

/** InternalRow plumbing for the ordered operators that run on
  * [[PrefixScan]] (Cumulative, Expanding, Fill, Ewm, MapOverlap): the scan
  * reads the physical plan's own InternalRow RDD through typed primitive
  * accessors, and output rows are built by a code-generated
  * UnsafeProjection. The former `df.rdd` / `createDataFrame(rowRdd)` path
  * paid an interpreted Catalyst↔external row conversion per row, both
  * ways (~2.2x the window path on uniform 10x data, GroupedScanProbe).
  *
  * Spark-internal contracts relied on (stable across 3.x/4.x):
  *   - `queryExecution.toRdd` iterators REUSE row buffers; anything
  *     retained across `next()` must be `copy()`d (rows) or go through
  *     `InternalRow.copyValue` (field values).
  *   - emitted rows may themselves be reused buffers — every Spark
  *     operator follows the same copy-on-buffer discipline downstream.
  *   - the projection/key-extractor classes below hold codegen'd
  *     projections and are NOT serializable: construct them inside the
  *     partition closure, never at the driver.
  */
private[graft] object InternalScan {

  def rddOf(df: DataFrame): RDD[InternalRow] = GraftSqlShim.internalRdd(df)

  def toDF(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    GraftSqlShim.internalCreateDataFrame(spark, rdd, schema)

  /** Typed double accessor for a numeric field; caller checks isNullAt
    * first. The returned lambda is serializable (safe to build at the
    * driver and capture in task closures).
    */
  def doubleGetter(dt: DataType, idx: Int): InternalRow => Double = dt match {
    case DoubleType     => r => r.getDouble(idx)
    case FloatType      => r => r.getFloat(idx).toDouble
    case LongType       => r => r.getLong(idx).toDouble
    case IntegerType    => r => r.getInt(idx).toDouble
    case ShortType      => r => r.getShort(idx).toDouble
    case ByteType       => r => r.getByte(idx).toDouble
    case d: DecimalType => r => r.getDecimal(idx, d.precision, d.scale).toDouble
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  /** Byte, short, int or long: the types the ordered operators
    * accumulate exactly as Long (pandas keeps int64 results integral).
    */
  def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** Typed long accessor for an integral field; caller checks isNullAt. */
  def longGetter(dt: DataType, idx: Int): InternalRow => Long = dt match {
    case LongType    => r => r.getLong(idx)
    case IntegerType => r => r.getInt(idx).toLong
    case ShortType   => r => r.getShort(idx).toLong
    case ByteType    => r => r.getByte(idx).toLong
    case other => throw new IllegalArgumentException(s"not integral: $other")
  }

  /** Per-task output-row builder: input row ++ appended `extra` fields,
    * through one codegen'd UnsafeProjection. The returned row is a
    * reused buffer. Appended values must be Catalyst-form (primitives
    * boxed, UTF8String for strings, null allowed).
    */
  final class Append(schema: StructType, extra: Seq[DataType]) {
    private val joined = new JoinedRow
    private val extras = new GenericInternalRow(extra.size)
    private val proj = UnsafeProjection.create(
      (schema.fields.map(_.dataType) ++ extra).toArray)
    def apply(r: InternalRow, v: Any): InternalRow = {
      extras.update(0, v); proj(joined(r, extras))
    }
    def applyAll(r: InternalRow, vs: Array[Any]): InternalRow = {
      var i = 0
      while (i < vs.length) { extras.update(i, vs(i)); i += 1 }
      proj(joined(r, extras))
    }
  }

  /** Per-task output-row builder replacing field `idx` with the supplied
    * value (schema unchanged). Rows that keep their own value should be
    * emitted as-is instead of projected.
    */
  final class Replace(schema: StructType, idx: Int) {
    private val n = schema.size
    private val joined = new JoinedRow
    private val extras = new GenericInternalRow(1)
    private val proj = UnsafeProjection.create(
      schema.fields.zipWithIndex.map { case (f, i) =>
        BoundReference(if (i == idx) n else i, f.dataType, nullable = true)
      })
    def apply(r: InternalRow, v: Any): InternalRow = {
      extras.update(0, v); proj(joined(r, extras))
    }
  }

  /** Per-task group-key extractor: projects the group columns to an
    * UnsafeRow whose byte equality is value equality (both sides come
    * from the same deterministic projection). Float and double fields go
    * through Catalyst's `NormalizeNaNAndZero` first, so -0.0 and 0.0 (and
    * every NaN bit pattern) are one key, as in SQL ordering, Spark's
    * groupBy/window and pandas. With no group columns every row projects
    * to the same empty key: one group. The projected row is a reused
    * buffer — `copy()` before retaining.
    */
  final class KeyProj(schema: StructType, gIdx: Seq[Int]) {
    private val proj = UnsafeProjection.create(gIdx.map { i =>
      val ref = BoundReference(i, schema(i).dataType, nullable = true)
      schema(i).dataType match {
        case FloatType | DoubleType => NormalizeNaNAndZero(ref)
        case _                      => ref
      }
    })
    def apply(r: InternalRow): UnsafeRow = proj(r)
  }
}
