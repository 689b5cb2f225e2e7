package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Distributed forward/backward fill, global and grouped — reference
  * `FFill/BFill` (`dask_expr/_expr.py:3405-3438`, map_overlap-based). An
  * un-partitioned `last(x, ignoreNulls) OVER (ORDER BY …)` window would
  * run in one task; every fill here is a [[PrefixScan]] instead. Rows that
  * keep their value pass through untouched, and filled rows go out
  * through a codegen'd replace projection.
  *
  * Carry contract: a partition's summary is its boundary non-null value
  * (the last one for ffill, the first one for bfill, which scans
  * backward), and summaries merge by "latest non-null wins" — associative
  * with identity null, so the carry is a [[PrefixScan.Tree]]. Carried
  * values are verbatim row values with no arithmetic, so every fill is
  * bit-exact under any split. They are Catalyst-form
  * (`InternalRow.copyValue` snapshots them out of reused row buffers).
  */
object Fill {

  private val lastWins: (Any, Any) => Any = (a, b) => if (b != null) b else a

  /** The fill state after a row: its value when non-null, else `last`. */
  private def keep(schema: StructType, vIdx: Int): (Any, InternalRow) => Any = {
    val vType = schema(vIdx).dataType
    (last, r) => if (r.isNullAt(vIdx)) last else InternalRow.copyValue(r.get(vIdx, vType))
  }

  /** Per-task emitter: a null value takes the fill state, if any. */
  private def filler(schema: StructType, vIdx: Int): () => (InternalRow, Any) => InternalRow =
    () => {
      val replace = new InternalScan.Replace(schema, vIdx)
      (r, last) => if (last == null || !r.isNullAt(vIdx)) r else replace(r, last)
    }

  /** Skew-resilient GROUPED forward fill — the scale alternative to the
    * per-group window `last(x, ignoreNulls)` (one task per whole group; a
    * zipf-hot group is a single straggler task): [[PrefixScan.grouped]]
    * lets hot groups span partitions.
    *
    * `descendingOrder = true` turns this into backward fill: bfill is
    * forward fill walked in reverse order, and a descending range
    * partition + sort expresses that without a second code path.
    */
  def groupedFfill(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      valueCol: String, descendingOrder: Boolean = false): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    val order = orderCols.map(c => if (descendingOrder) col(c).desc else col(c).asc)
    PrefixScan.grouped[Any](df, groupCols, order, df.schema, PrefixScan.Tree)(
      null, keep(df.schema, vIdx), lastWins)(filler(df.schema, vIdx))
  }

  def ffill(df: DataFrame, valueCol: String): DataFrame = {
    val schema = df.schema
    val vIdx = schema.fieldIndex(valueCol)
    val step = keep(schema, vIdx)
    val out = filler(schema, vIdx)
    val fold = PrefixScan.Fold[InternalRow, Any](_.foldLeft(null: Any)(step), () => null, lastWins)
    PrefixScan.frame(df, schema, PrefixScan.Tree, fold) { (seed, it) =>
      var last = seed
      val emit = out()
      it.map { r => last = step(last, r); emit(r, last) }
    }
  }

  /** bfill = ffill run over the reversed partition order; implemented
    * directly with suffix carries to avoid a global re-sort.
    */
  def bfill(df: DataFrame, valueCol: String): DataFrame = {
    val schema = df.schema
    val vIdx = schema.fieldIndex(valueCol)
    val vType = schema(vIdx).dataType
    // backward: partition p's seed is the first non-null value of the
    // nearest following partition that has one
    val fold = PrefixScan.Fold[InternalRow, Any](
      it => it.find(r => !r.isNullAt(vIdx)).map(r => InternalRow.copyValue(r.get(vIdx, vType))).orNull,
      () => null, lastWins)
    PrefixScan.frame(df, schema, PrefixScan.Tree, fold, backward = true) { (carryFromNext, it) =>
      val replace = new InternalScan.Replace(schema, vIdx)
      // need the partition's own next-non-null lookahead: buffer rows until
      // a non-null is seen (bounded by the null-run length, not partition
      // size).  Buffered rows are copies (the source iterator reuses its
      // buffer); the fill value is applied lazily in next() so the replace
      // projection's reused output buffer is safe.
      new Iterator[InternalRow] {
        // (row, fill) — fill == null means emit the row as-is
        private val ready = new scala.collection.mutable.ArrayDeque[(InternalRow, Any)]()
        private val pending = new scala.collection.mutable.ArrayDeque[InternalRow]()
        private def refill(): Unit = {
          while (ready.isEmpty && it.hasNext) {
            val r = it.next()
            if (!r.isNullAt(vIdx)) {
              val v = InternalRow.copyValue(r.get(vIdx, vType))
              pending.foreach(p => ready.append((p, v)))
              pending.clear()
              ready.append((r, null))
            } else pending.append(r.copy())
          }
          if (ready.isEmpty && !it.hasNext && pending.nonEmpty) {
            pending.foreach(p => ready.append((p, carryFromNext)))
            pending.clear()
          }
        }
        def hasNext: Boolean = { refill(); ready.nonEmpty }
        def next(): InternalRow = {
          refill()
          val (r, fill) = ready.removeHead()
          if (fill == null) r else replace(r, fill)
        }
      }
    }
  }
}
