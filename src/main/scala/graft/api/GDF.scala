package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Index metadata carried by every [[GDF]].
  *
  * Mirrors the reference's `divisions` model (dask
  * `_collection.py:334-355`): a frame optionally designates index
  * column(s); `sorted=true` means the frame is range-partitioned and
  * sorted by the index (dask "known divisions"), which makes positional /
  * ordered operators (head, rolling, shift, cumulative) well-defined and
  * lets Catalyst prune partitions on index-range predicates.
  */
final case class IndexMeta(cols: Seq[String], sorted: Boolean) {
  require(cols.nonEmpty, "index requires at least one column")
  def primary: String = cols.head
}

/** A lazy, pandas/dask-flavored DataFrame.
  *
  * Thin, immutable wrapper over `org.apache.spark.sql.DataFrame`: every
  * method declares logical-plan transformations and lets Catalyst/AQE do
  * the optimization the reference implements by hand (projection/filter
  * pushdown `dask_expr/_expr.py:2121-2245`, join selection
  * `_merge.py:286-418`, shuffle staging `_shuffle.py:326-496`).  Nothing
  * here materializes data on the driver except the explicit action methods
  * (`compute`, `head`, …), so the same plans run unchanged on a
  * 1000-executor cluster.
  */
final class GDF(val df: DataFrame, val index: Option[IndexMeta]) {

  def spark: SparkSession = df.sparkSession
  def columns: Seq[String] = df.columns.toSeq
  def schema = df.schema

  private def keep(d: DataFrame): GDF = new GDF(d, index.filter(_.cols.forall(d.columns.contains)))
  private def unordered(d: DataFrame): GDF =
    new GDF(d, index.filter(_.cols.forall(d.columns.contains)).map(_.copy(sorted = false)))

  /** Ordering expression for positional/ordered ops. Requires an index. */
  private[graft] def orderCols: Seq[Column] = index match {
    case Some(ix) => ix.cols.map(col)
    case None =>
      throw new IllegalStateException(
        "this operation is order-dependent: call setIndex(col) first " +
          "(Spark DataFrames are unordered multisets; dask SURVEY.md §1.1)")
  }

  // ---- projections / filters / row-wise (SURVEY §2.3) -------------------

  /** `df[cols]` — column projection. */
  def select(cols: String*): GDF = keep(df.select(cols.map(col): _*))
  def selectCols(cols: Seq[Column]): GDF = keep(df.select(cols: _*))

  /** `df[mask]` — boolean filter. */
  def filter(cond: Column): GDF = keep(df.filter(cond))

  /** pandas `query(expr)` — SQL-string predicate. */
  def query(sql: String): GDF = keep(df.filter(sql))

  /** pandas `eval(expr)` — add a computed column from a SQL expression. */
  def eval(name: String, sql: String): GDF = keep(df.withColumn(name, expr(sql)))

  /** `assign(name=expr)` — add/replace a column. */
  def assign(name: String, c: Column): GDF = keep(df.withColumn(name, c))
  def assign(pairs: (String, Column)*): GDF =
    keep(pairs.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) })

  def drop(cols: String*): GDF = keep(df.drop(cols: _*))

  def rename(mapping: (String, String)*): GDF = {
    val m = mapping.toMap
    val d = df.select(df.columns.toIndexedSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
    new GDF(d, index.map(ix => ix.copy(cols = ix.cols.map(c => m.getOrElse(c, c)))))
  }
  def addPrefix(p: String): GDF = rename(df.columns.map(c => c -> (p + c)).toIndexedSeq: _*)
  def addSuffix(s: String): GDF = rename(df.columns.map(c => c -> (c + s)).toIndexedSeq: _*)

  /** `astype` */
  def astype(name: String, t: DataType): GDF = keep(df.withColumn(name, col(name).cast(t)))

  def isin(name: String, values: Seq[Any]): GDF = keep(df.filter(col(name).isin(values: _*)))
  def between(name: String, lo: Any, hi: Any): GDF = keep(df.filter(col(name).between(lo, hi)))

  /** pandas `where(cond, other)` — keep values where cond, else `other`. */
  def where(name: String, cond: Column, other: Column): GDF =
    keep(df.withColumn(name, when(cond, col(name)).otherwise(other)))

  /** pandas `mask(cond, other)` — replace values where cond holds. */
  def mask(name: String, cond: Column, other: Column): GDF =
    keep(df.withColumn(name, when(cond, other).otherwise(col(name))))

  /** `Series.map(dict)` — value substitution from a small literal mapping;
    * unmapped values become null (pandas semantics). Compiles to a when
    * chain (pure codegen) — for large mappings use a broadcast join.
    */
  def mapValues[T](name: String, out: String, mapping: Map[T, T]): GDF = {
    val c = col(name)
    val chained = mapping.foldLeft(lit(null).cast(df.schema(name).dataType)) {
      case (acc, (from, to)) => when(c === lit(from), lit(to)).otherwise(acc)
    }
    keep(df.withColumn(out, chained))
  }

  def fillna(value: Any, subset: Seq[String] = Nil): GDF = {
    val cols = if (subset.isEmpty) df.columns.toSeq else subset
    val d = value match {
      case v: String => df.na.fill(v, cols)
      case v: Long   => df.na.fill(v, cols)
      case v: Int    => df.na.fill(v.toLong, cols)
      case v: Double => df.na.fill(v, cols)
      case v: Boolean => df.na.fill(v, cols)
      case other => throw new IllegalArgumentException(s"fillna: unsupported $other")
    }
    keep(d)
  }

  def dropna(how: String = "any", subset: Seq[String] = Nil): GDF =
    keep(if (subset.isEmpty) df.na.drop(how) else df.na.drop(how, subset))

  /** pandas `dropna(thresh=n)`: keep rows with ≥ n non-null values. */
  def dropnaThresh(n: Int, subset: Seq[String] = Nil): GDF =
    keep(if (subset.isEmpty) df.na.drop(n) else df.na.drop(n, subset))

  def replaceValues[T](cols: Seq[String], mapping: Map[T, T]): GDF =
    keep(df.na.replace(cols, mapping))

  def clip(name: String, lo: Double, hi: Double): GDF =
    // pandas clip leaves missing values untouched; Spark least/greatest
    // SKIP null (null → hi) and order NaN above all doubles (NaN → hi),
    // so guard both explicitly
    keep(df.withColumn(name,
      when(col(name).isNull || isnan(col(name).cast("double")), col(name))
        .otherwise(greatest(least(col(name), lit(hi)), lit(lo)))))

  def roundCol(name: String, scale: Int): GDF = keep(df.withColumn(name, round(col(name), scale)))
  def absCol(name: String): GDF = keep(df.withColumn(name, abs(col(name))))
  def isna(name: String, out: String): GDF = keep(df.withColumn(out, col(name).isNull))

  /** `explode` a list column into rows. */
  def explodeCol(name: String): GDF = unordered(df.withColumn(name, explode(col(name))))

  def sample(fraction: Double, withReplacement: Boolean = false, seed: Long = 42L): GDF =
    unordered(df.sample(withReplacement, fraction, seed))

  def randomSplit(weights: Array[Double], seed: Long = 42L): Array[GDF] =
    df.randomSplit(weights, seed).map(unordered)

  /** Deterministic content-keyed Bernoulli sample: keep rows whose
    * multiplicative hash of `key` lands in the first `fraction` of bucket
    * space.  Unlike seeded RNG `sample()` (partition-layout dependent), the
    * kept set is a pure function of the key values — reproducible across
    * runs, engines, and repartitioning, which is what a training-data
    * pipeline needs for holdout splits.  (reference `Sample`
    * `_expr.py:1283` is RNG-based; this is the scale-friendly variant)
    */
  def hashSample(keyCol: Column, fraction: Double, seed: Int = 0): GDF = {
    requireNumericKey(keyCol, "hashSample")
    unordered(df.filter(
      graft.functions.Hashing.portableBucket(keyCol, 10000, seed) <
        math.round(fraction * 10000).toInt))
  }

  /** portableBucket hashes NUMERIC keys (cast to long); a string key
    * would cast to null and silently select/route NOTHING — fail fast.
    */
  private def requireNumericKey(keyCol: Column, op: String): Unit = {
    val dt = df.select(keyCol).schema.head.dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
      dt.isInstanceOf[org.apache.spark.sql.types.BooleanType],
      s"$op needs a numeric key column (portable hash is over int64); got $dt — " +
        "hash a string key to int64 first (e.g. xxhash64)")
  }

  /** Deterministic stratified sampling — the corpus-mixing op (downsample
    * dominant languages/sources, keep rare ones whole).  Hash-stable
    * counterpart of Spark's `stat.sampleBy` (seeded-RNG, layout-dependent):
    * here the kept set is a pure function of (key, stratum, seed), so it
    * survives repartitioning and is replicable bit-for-bit by an external
    * engine.  Strata absent from `fractions` are DROPPED (`sampleBy`
    * semantics).  Zero shuffle: one narrow filter; the per-stratum
    * threshold folds into a scan-pushable CASE predicate (strata are
    * dictionary-sized by definition).
    */
  def hashSampleBy(stratumCol: Column, keyCol: Column,
                   fractions: Map[String, Double], seed: Int = 0): GDF = {
    requireNumericKey(keyCol, "hashSampleBy")
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      s"hashSampleBy fractions must be in [0,1]: $fractions")
    val bucket = graft.functions.Hashing.portableBucket(keyCol, 10000, seed)
    val threshold = fractions.foldLeft(lit(0)) { case (acc, (stratum, f)) =>
      when(stratumCol === lit(stratum), lit(math.round(f * 10000).toInt))
        .otherwise(acc)
    }
    unordered(df.filter(bucket < threshold))
  }

  /** Deterministic counterpart of `randomSplit`: partitions rows into
    * `weights.length` disjoint frames by hash bucket of `keyCol`.
    */
  def hashSplit(keyCol: Column, weights: Array[Double], seed: Int = 0): Array[GDF] = {
    requireNumericKey(keyCol, "hashSplit")
    val total = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).map(w => math.round(w / total * 10000).toInt)
    val b = graft.functions.Hashing.portableBucket(keyCol, 10000, seed)
    weights.indices.map(i => unordered(df.filter(b >= cum(i) && b < cum(i + 1)))).toArray
  }

  // ---- joins (SURVEY §2.4) ---------------------------------------------

  /** dask/pandas `merge`.  `how` ∈ inner/left/right/outer/leftsemi/leftanti/cross.
    * Equi-join on `on` columns; overlapping non-key columns get `suffixes`.
    * Spark's AQE picks broadcast vs shuffled strategies by runtime size —
    * superseding the reference's `npartitions`-based log-rule
    * (`_merge.py:233-252`).  Pass `broadcastRight=true` to force-hint.
    */
  def merge(
      right: GDF,
      on: Seq[String],
      how: String = "inner",
      suffixes: (String, String) = ("_x", "_y"),
      broadcastRight: Boolean = false): GDF = {
    val sparkHow = how match {
      case "outer"    => "full_outer"
      case "leftsemi" => "left_semi"
      case "leftanti" => "left_anti"
      case h          => h
    }
    val overlap = (df.columns.toSet & right.df.columns.toSet) -- on.toSet
    val l = overlap.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    val r0 = overlap.foldLeft(right.df)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    val r = if (broadcastRight) broadcast(r0) else r0
    new GDF(l.join(r, on, sparkHow), None)
  }

  def crossJoin(right: GDF): GDF = new GDF(df.crossJoin(right.df), None)

  /** Index-aligned binary op — dask's `OpAlignPartitions`
    * (`_expr.py:3717`): operands are aligned on the index (outer join)
    * before the op, producing null where either side is absent.
    *
    * Semantics caveats vs pandas: index labels must be unique per side
    * (duplicate labels would join m×n, not align positionally) and null
    * labels never match (SQL join equality) — both are the documented
    * join-based alignment behavior, matching dask's own divergence from
    * pandas on unknown divisions.
    */
  def alignedBinop(other: GDF, leftCol: String, rightCol: String, out: String)(
      op: (Column, Column) => Column): GDF = {
    val ix = index.orElse(other.index).getOrElse(throw new IllegalStateException(
      "alignedBinop needs an index on at least one side (setIndex/withIndex)")).cols
    require(ix.forall(df.columns.contains) && ix.forall(other.df.columns.contains),
      s"both sides need index columns $ix")
    require(!ix.contains(out), s"output column '$out' would overwrite index column")
    val l = df.select(ix.map(col) :+ col(leftCol).as("__l__"): _*)
    val r = other.df.select(ix.map(col) :+ col(rightCol).as("__r__"): _*)
    new GDF(
      l.join(r, ix, "full_outer")
        .withColumn(out, op(col("__l__"), col("__r__")))
        .drop("__l__", "__r__"),
      Some(IndexMeta(ix, sorted = false)))
  }

  /** `DataFrame.join(other)` — join on the index columns
    * (`_collection.py:2983`); both frames must carry the same index.
    */
  def joinIndex(right: GDF, how: String = "left",
                suffixes: (String, String) = ("_x", "_y")): GDF = {
    val ix = index.getOrElse(throw new IllegalStateException(
      "joinIndex needs an index (setIndex/withIndex)")).cols
    // pandas join preserves the index; sortedness is not (full_outer /
    // right joins can interleave right-only labels)
    new GDF(merge(right, on = ix, how = how, suffixes = suffixes).df,
      Some(IndexMeta(ix, sorted = false)))
  }

  /** pandas `combine_first` for one value column: align on the index and
    * take this frame's value, falling back to `other`'s where null/absent
    * (coalesce over the aligned pair).
    */
  def combineFirst(other: GDF, valueCol: String): GDF =
    alignedBinop(other, valueCol, valueCol, valueCol)(coalesce(_, _))

  /** pandas `combine(other, func)` (`_collection.py` combine): align both
    * frames on the index (full outer) and apply `op` to EVERY column in the
    * union — pandas calls func with a NaN-filled series for the side that
    * lacks the column, so one-sided columns get `op(col, null)` /
    * `op(null, col)` (e.g. combine with fmax NaN-propagates one-sided
    * columns, exactly as the reference does). One join — the per-column ops
    * ride the same exchange.
    */
  def combine(other: GDF)(op: (Column, Column) => Column): GDF = {
    val ix = index.orElse(other.index).getOrElse(throw new IllegalStateException(
      "combine needs an index on at least one side (setIndex/withIndex)")).cols
    require(ix.forall(df.columns.contains) && ix.forall(other.df.columns.contains),
      s"both sides need index columns $ix")
    val lVals = df.columns.filterNot(ix.contains)
    val rVals = other.df.columns.filterNot(ix.contains)
    val shared = lVals.filter(rVals.contains)
    val l = df.select(ix.map(col) ++ lVals.map(c => col(c).as(s"__l_$c")): _*)
    val r = other.df.select(ix.map(col) ++ rVals.map(c => col(c).as(s"__r_$c")): _*)
    val joined = l.join(r, ix, "full_outer")
    // typed nulls for the absent side so op sees the present column's type
    val jTypes = joined.schema.fields.map(f => f.name -> f.dataType).toMap
    val out = (lVals ++ rVals).distinct.map { c =>
      if (shared.contains(c)) op(col(s"__l_$c"), col(s"__r_$c")).as(c)
      else if (lVals.contains(c))
        op(col(s"__l_$c"), lit(null).cast(jTypes(s"__l_$c"))).as(c)
      else op(lit(null).cast(jTypes(s"__r_$c")), col(s"__r_$c")).as(c)
    }
    new GDF(joined.select(ix.map(col) ++ out: _*), Some(IndexMeta(ix, sorted = false)))
  }

  /** pandas/dask `align(other, join=)` (`_collection.py` align): both
    * frames reindexed to the SAME label set — the joined index — with
    * nulls where a side lacks a label. ONE shuffle builds the label set;
    * each side then left-joins its values back onto it (broadcast-eligible
    * label frames stay broadcast under AQE).
    */
  def align(other: GDF, how: String = "outer"): (GDF, GDF) = {
    val ix = index.orElse(other.index).getOrElse(throw new IllegalStateException(
      "align needs an index on at least one side (setIndex/withIndex)")).cols
    require(Set("outer", "inner", "left", "right").contains(how), s"align: bad join '$how'")
    val lLabels = df.select(ix.map(col): _*).distinct()
    val rLabels = other.df.select(ix.map(col): _*).distinct()
    val labels = how match {
      case "outer" => lLabels.unionByName(rLabels).distinct()
      case "inner" => lLabels.intersect(rLabels)
      case "left"  => lLabels
      case "right" => rLabels
    }
    def reindex(side: GDF): GDF =
      new GDF(labels.join(side.df, ix, "left"), Some(IndexMeta(ix, sorted = false)))
    (reindex(this), reindex(other))
  }

  /** pandas `select_dtypes(include/exclude)`: schema-driven projection,
    * resolved driver-side — the executed plan is a plain column-pruned
    * select. Dtype names accept Spark type names plus the pandas-ish
    * categories `number`, `floating`, `integer`, `object`, `bool`,
    * `datetime`.
    */
  def selectDtypes(include: Seq[String] = Nil, exclude: Seq[String] = Nil): GDF = {
    require(include.nonEmpty || exclude.nonEmpty,
      "select_dtypes needs include and/or exclude")
    def cats(dt: DataType): Set[String] = dt.typeName match {
      case t @ ("integer" | "long" | "short" | "byte") => Set(t, "integer", "number")
      case t @ ("double" | "float") => Set(t, "floating", "number")
      case t if t.startsWith("decimal") => Set(t, "decimal", "number")
      case "string" => Set("string", "object")
      case "boolean" => Set("boolean", "bool")
      case t @ ("timestamp" | "timestamp_ntz" | "date") => Set(t, "datetime")
      case t => Set(t)
    }
    val ixCols = index.map(_.cols).getOrElse(Nil)
    val keep = df.schema.fields.filter { f =>
      val cs = cats(f.dataType)
      val in = include.isEmpty || include.exists(cs.contains)
      in && !exclude.exists(cs.contains)
    }.map(_.name)
    new GDF(df.select((ixCols ++ keep.filterNot(ixCols.contains)).map(col): _*), index)
  }

  /** dask `memory_usage_per_partition(deep=)`: per-partition row count and
    * byte estimate — sampled SizeEstimator average × rows, computed in one
    * narrow pass (no shuffle, nothing driver-side but the tiny result).
    */
  def memoryUsagePerPartition(sampleRows: Int = 128): DataFrame = {
    val s = spark
    import s.implicits._
    df.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; var sampled = 0L; var sn = 0
      it.foreach { r =>
        n += 1
        if (sn < sampleRows) {
          sampled += org.apache.spark.util.SizeEstimator.estimate(r); sn += 1
        }
      }
      val bytes = if (sn == 0) 0L else (sampled.toDouble / sn * n).toLong
      Iterator((pid, n, bytes))
    }.toDF("partition", "rows", "estimated_bytes")
  }

  /** pandas `merge(indicator=True)` — adds a `_merge` column marking each
    * row as left_only / right_only / both (`_merge.py:76`). Implemented
    * with presence flags carried through the join, so it costs nothing
    * beyond the join itself.
    */
  def mergeIndicator(right: GDF, on: Seq[String], how: String = "outer",
                     suffixes: (String, String) = ("_x", "_y")): GDF = {
    // pandas allows indicator only for hows that keep both sides' columns
    require(Set("inner", "left", "right", "outer").contains(how),
      s"indicator is undefined for how=$how")
    val overlap = (df.columns.toSet & right.df.columns.toSet) -- on.toSet
    val l = overlap.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
      .withColumn("__lpresent__", lit(true))
    val r = overlap.foldLeft(right.df)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
      .withColumn("__rpresent__", lit(true))
    val sparkHow = if (how == "outer") "full_outer" else how
    val joined = l.join(r, on, sparkHow)
      .withColumn("_merge",
        when(col("__lpresent__").isNotNull && col("__rpresent__").isNotNull, "both")
          .when(col("__lpresent__").isNotNull, "left_only")
          .otherwise("right_only"))
      .drop("__lpresent__", "__rpresent__")
    new GDF(joined, None)
  }

  // ---- groupby (SURVEY §2.5) -------------------------------------------

  def groupby(cols: String*): GGroupBy = new GGroupBy(this, cols, dropna = true)
  def groupbyDropna(dropna: Boolean, cols: String*): GGroupBy = new GGroupBy(this, cols, dropna)

  // ---- reductions -------------------------------------------------------

  def count(): Long = df.count()
  def agg(exprs: Column*): DataFrame = df.agg(exprs.head, exprs.tail: _*)

  /** `value_counts` over one column. */
  def valueCounts(name: String, normalize: Boolean = false): GDF = {
    import org.apache.spark.sql.{functions => F}
    val counted = df.groupBy(col(name)).agg(F.count(lit(1)).as("count"))
    val out =
      if (!normalize) counted
      else {
        // single-row total broadcast-joined; no driver round-trip
        val total = df.select(F.count(lit(1)).as("__total__"))
        counted.crossJoin(broadcast(total))
          .withColumn("proportion", col("count") / col("__total__"))
          .drop("__total__", "count")
      }
    new GDF(out.orderBy(col(if (normalize) "proportion" else "count").desc, col(name)), None)
  }

  def dropDuplicates(subset: Seq[String] = Nil): GDF =
    unordered(if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset))

  /** dask `drop_duplicates(keep="first"/"last")` — order-aware dedup via
    * the index ordering (window row_number, SURVEY §2.5).
    */
  def dropDuplicatesKeep(subset: Seq[String], keep: String): GDF = {
    val ord = keep match {
      case "first" => orderCols
      case "last"  => orderCols.map(_.desc)
      case other   => throw new IllegalArgumentException(s"keep=$other")
    }
    // pandas: no subset → dedup on ALL columns.  An empty partitionBy
    // would instead put every row in ONE window group (single surviving
    // row, single task) — silent data loss, so substitute the full set.
    val keys = if (subset.nonEmpty) subset else df.columns.toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    unordered(
      df.withColumn("__rn__", row_number().over(w)).filter(col("__rn__") === 1).drop("__rn__"))
  }

  def nlargest(n: Int, by: String): GDF = new GDF(df.orderBy(col(by).desc).limit(n), None)
  def nsmallest(n: Int, by: String): GDF = new GDF(df.orderBy(col(by).asc).limit(n), None)

  /** `mode()` with a deterministic tie-break (smallest value wins) —
    * reference `_reductions.py:1279`. groupBy-count-then-top1: two hash
    * aggregates, no full sort.
    */
  def modeOf(name: String, alias: String = "mode"): GDF =
    new GDF(
      // pandas mode() drops NaN/null before counting
      df.filter(col(name).isNotNull)
        .groupBy(col(name)).agg(org.apache.spark.sql.functions.count(lit(1)).as("__n__"))
        .orderBy(col("__n__").desc, col(name).asc)
        .limit(1)
        .select(col(name).as(alias)),
      None)

  /** `memory_usage`/`nbytes` (reference `_reductions.py:1475-1523`) —
    * mapped to Catalyst's plan statistics (parquet footer / CBO sizes),
    * the same metadata-only fast path as the reference's Len rewrite.
    */
  def sizeInBytes: BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** approximate quantiles (reference: `dask_expr/_quantile.py`). */
  def quantileApprox(name: String, qs: Array[Double], err: Double = 0.01): Array[Double] =
    df.stat.approxQuantile(name, qs, err)

  def describe(cols: String*): DataFrame =
    (if (cols.isEmpty) df else df.select(cols.map(col): _*)).summary()

  // ---- sorts / index / partitioning (SURVEY §2.7) -----------------------

  /** `sort_values` — global range-partitioned sort (Spark samples
    * partition bounds exactly like the reference's RepartitionQuantiles,
    * `_shuffle.py:975-1131`).
    */
  def sortValues(by: Seq[String], ascending: Seq[Boolean] = Nil,
                 naPosition: String = "last"): GDF = {
    require(ascending.isEmpty || ascending.size == by.size,
      s"ascending has ${ascending.size} entries for ${by.size} sort keys")
    require(naPosition == "last" || naPosition == "first", s"na_position=$naPosition")
    val asc = if (ascending.isEmpty) Seq.fill(by.size)(true) else ascending
    // pandas default puts NaN last regardless of direction
    val sortExprs = by.zip(asc).map { case (c, a) =>
      (a, naPosition) match {
        case (true, "last")   => col(c).asc_nulls_last
        case (true, "first")  => col(c).asc_nulls_first
        case (false, "last")  => col(c).desc_nulls_last
        case (false, "first") => col(c).desc_nulls_first
        case (_, other)       => throw new IllegalArgumentException(s"na_position=$other")
      }
    }
    new GDF(df.orderBy(sortExprs: _*), None)
  }

  /** `set_index(col)` — range-partition + sort by the index column and
    * record "known divisions" (`IndexMeta.sorted=true`).  Downstream
    * ordered ops (rolling/shift/cumsum/asof) and index-range filters get
    * partition pruning + shuffle-free execution from this, mirroring the
    * reference's divisions mechanism (`_shuffle.py:806-972`).
    */
  def setIndex(c: String, numPartitions: Int = 0): GDF = {
    val parted =
      if (numPartitions > 0) df.repartitionByRange(numPartitions, col(c))
      else df.repartitionByRange(col(c))
    new GDF(parted.sortWithinPartitions(col(c)), Some(IndexMeta(Seq(c), sorted = true)))
  }

  /** Declare an existing column as index without shuffling (dask
    * `set_index(sorted=True)` blockwise path).
    */
  def withIndex(c: String, alreadySorted: Boolean = false): GDF =
    new GDF(df, Some(IndexMeta(Seq(c), alreadySorted)))

  /** Multi-column index declaration (ties broken by later columns). */
  def withIndexCols(cols: Seq[String], alreadySorted: Boolean = false): GDF =
    new GDF(df, Some(IndexMeta(cols, alreadySorted)))

  def resetIndex(): GDF = new GDF(df, None)

  /** `.loc[lo:hi]` — index-range selection; with a range-partitioned index
    * this prunes partitions (the reference binary-searches divisions,
    * `_indexing.py:68-176`; Catalyst does the same from min/max stats).
    */
  def loc(lo: Any, hi: Any): GDF = keep(df.filter(col(orderColsName).between(lo, hi)))
  private def orderColsName: String = index.map(_.primary).getOrElse(orderCols.head.toString)

  /** pandas `pipe(func)` — method-chain a transformation. */
  def pipe(f: GDF => GDF): GDF = f(this)

  /** dask `reverse` (`_indexing.py:177`) — index order flipped. */
  def reverse(): GDF = {
    val ord = orderCols.map(_.desc)
    new GDF(df.orderBy(ord: _*), index.map(_.copy(sorted = false)))
  }

  /** dask `.partitions[i]` — one physical partition (`_expr.py:3020`).
    * Note: evaluated as a filter over the scan (all partitions are still
    * planned, unlike dask's partition-pruned graph); an out-of-range `i`
    * yields an empty frame. For pruned index-range access use [[loc]].
    */
  def partitionSlice(i: Int): GDF = {
    require(i >= 0, s"partition index $i")
    keep(df.filter(spark_partition_id() === i))
  }

  def repartition(n: Int): GDF = keep(df.repartition(n))
  def repartitionByCols(n: Int, cols: Seq[String]): GDF =
    keep(df.repartition(n, cols.map(col): _*))
  def coalescePartitions(n: Int): GDF = keep(df.coalesce(n))

  /** freq-based repartition (reference `RepartitionFreq`,
    * `_repartition.py:471-522`): one range partition per `freq` interval
    * of a time column.  Spark's RangePartitioner assigns equal keys to
    * the SAME partition, so an interval never splits — the co-location a
    * downstream resample/rolling scan expects.  One O(1)-row min/max
    * aggregate sizes the partition count (the reference reads divisions
    * the same way).
    */
  def repartitionFreq(timeCol: String, freqSeconds: Long): GDF = {
    require(freqSeconds > 0, s"freqSeconds must be positive, got $freqSeconds")
    val bucket = floor(
      unix_micros(col(timeCol).cast("timestamp")) / lit(freqSeconds * 1000000L))
    val r = df.agg(min(bucket), max(bucket)).head()
    if (r.isNullAt(0)) this
    else {
      val span = r.getLong(1) - r.getLong(0) + 1
      // a corrupt outlier timestamp could imply billions of partitions;
      // .toInt would silently wrap — fail fast instead
      require(span >= 1 && span <= 10000000L,
        s"repartitionFreq would create $span range partitions " +
          s"(min/max bucket ${r.getLong(0)}/${r.getLong(1)}) — check the time column for outliers")
      new GDF(df.repartitionByRange(span.toInt, bucket), index)
    }
  }

  /** size-targeted repartition (reference `RepartitionSize`,
    * `_repartition.py:29-120`): partition count from the optimizer's
    * size estimate over a target bytes-per-partition — the static
    * equivalent of AQE's advisory partition size, usable on any frame
    * without touching session conf.
    */
  def repartitionTargetSize(bytesPerPartition: Long): GDF = {
    require(bytesPerPartition > 0, s"bytesPerPartition must be positive")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = math.max(1, ((bytes + bytesPerPartition - 1) / bytesPerPartition).toInt)
    keep(df.repartition(n))
  }

  /** positional head — requires sorted index for determinism. */
  def headDF(n: Int): GDF = index match {
    case Some(ix) if ix.sorted => new GDF(df.orderBy(ix.cols.map(col): _*).limit(n), index)
    case _                     => new GDF(df.limit(n), None)
  }

  def tailDF(n: Int): GDF = {
    val ord = orderCols.map(_.desc)
    new GDF(df.orderBy(ord: _*).limit(n).orderBy(orderCols: _*), index)
  }

  // ---- set ops / reshape (SURVEY §2.8) ----------------------------------

  /** `concat(axis=0)` */
  def concat(others: GDF*): GDF =
    unordered(others.foldLeft(df)((a, b) => a.unionByName(b.df, allowMissingColumns = true)))

  /** `concat(axis=1)` — align frames on the index column via full outer
    * join, exactly the reference's lowering (`_concat.py:141-244` lowers
    * axis=1 concat to a divisions-aligned join).
    */
  def concatAxis1(right: GDF, on: String): GDF =
    new GDF(df.join(right.df, Seq(on), "full_outer"), None)

  /** Interleaved `concat(axis=0)` for frames with OVERLAPPING index ranges
    * (reference `StackPartitionInterleaved`, `_concat.py:27-356`): the
    * plain union is unordered; this one merges the inputs back into a
    * single sorted-by-index frame, so ordered operators (rolling, shift,
    * cumulative) keep working on the result.
    *
    * Spark-first: union → `repartitionByRange(index)` (sample-based range
    * exchange, the same algorithm dask's interleave uses divisions for) →
    * `sortWithinPartitions`.  One shuffle, fully parallel, no global sort.
    */
  def concatInterleaved(others: GDF*): GDF = {
    val ix = index.getOrElse(throw new IllegalStateException(
      "concatInterleaved requires an index (the merge key)"))
    require(others.forall(_.index.exists(_.cols == ix.cols)),
      "all frames must share the same index columns")
    val unioned = others.foldLeft(df)((a, b) => a.unionByName(b.df, allowMissingColumns = true))
    val ic = ix.cols.map(col)
    new GDF(unioned.repartitionByRange(ic: _*).sortWithinPartitions(ic: _*),
      Some(ix.copy(sorted = true)))
  }

  /** Set ops — dask reaches these via merge+indicator workflows
    * (`_merge.py:76`); Spark has them natively (SURVEY §2.8).
    */
  def intersect(other: GDF): GDF = unordered(df.intersect(other.df))
  def exceptRows(other: GDF): GDF = unordered(df.except(other.df))

  /** `melt` — wide→long. */
  def melt(idVars: Seq[String], valueVars: Seq[String],
           varName: String = "variable", valueName: String = "value"): GDF = {
    val d = df.unpivot(idVars.map(col).toArray, valueVars.map(col).toArray, varName, valueName)
    new GDF(d, None)
  }

  /** `pivot_table(index, columns, values, aggfunc)`.  aggfunc first/last
    * (reference `PivotTableFirst/Last`, `_reductions.py:762-771`) take the
    * first/last NON-NULL value by an explicit `ordCol` — dask's positional
    * first/last is partition-layout dependent, the ordered form is the
    * deterministic equivalent and stays one decomposable min_by/max_by
    * aggregate (no window, no per-group sort).
    */
  def pivotTable(indexCol: String, columnsCol: String, valuesCol: String,
                 aggfunc: String = "sum", knownValues: Seq[Any] = Nil,
                 ordCol: Option[String] = None): GDF = {
    val g = df.groupBy(col(indexCol))
    val p = if (knownValues.nonEmpty) g.pivot(columnsCol, knownValues) else g.pivot(columnsCol)
    def ord: Column = {
      val o = ordCol.getOrElse(throw new IllegalArgumentException(
        s"aggfunc=$aggfunc needs an explicit ordCol (positional first/last is " +
          "partition-layout dependent)"))
      // null values must not win: a null ordering key is skipped by min_by/max_by
      when(col(valuesCol).isNotNull, col(o))
    }
    val out = aggfunc match {
      case "sum"   => p.sum(valuesCol)
      case "count" => p.count()
      case "mean"  => p.avg(valuesCol)
      case "min"   => p.min(valuesCol)
      case "max"   => p.max(valuesCol)
      case "first" => p.agg(min_by(col(valuesCol), ord))
      case "last"  => p.agg(max_by(col(valuesCol), ord))
      case other   => throw new IllegalArgumentException(s"aggfunc=$other")
    }
    new GDF(out, None)
  }

  /** `get_dummies` — one-hot encode a (low-cardinality) string column.
    * `categories` must be known/provided to keep the plan static — same
    * constraint as dask's known-categories requirement
    * (`_dummies.py:12-179`).
    */
  def getDummies(name: String, categories: Seq[String], prefix: String = ""): GDF = {
    val pfx = if (prefix.isEmpty) name else prefix
    val withCols = categories.foldLeft(df) { (d, v) =>
      d.withColumn(s"${pfx}_$v", when(col(name) === v, 1).otherwise(0))
    }
    keep(withCols.drop(name))
  }

  // ---- ordered / temporal ops (SURVEY §2.6) -----------------------------

  /** rolling window over the index order; pass `partitionBy` keys for the
    * per-key (fully parallel native-window) path.
    *
    * `minPeriods` defaults to the window size like pandas fixed windows
    * (`rolling(3).sum()` yields null for the first 2 rows); pass 1 for
    * emit-from-first-row behavior.
    */
  def rolling(window: Int, partitionBy: Seq[String] = Nil, minPeriods: Int = -1): GRolling = {
    val ord = index.map(_.cols).getOrElse(
      throw new IllegalStateException("rolling requires setIndex/withIndex"))
    // the global path runs MapOverlap over the PHYSICAL layout — it needs
    // the same range-partitioned sorted precondition as shift/cumsum (the
    // keyed path sorts inside its window, so a declared index suffices)
    if (partitionBy.isEmpty) requireSortedIndex("global rolling")
    // -1 sentinel → pandas fixed-window default (= window); 0 keeps pandas
    // min_periods=0 semantics (empty-window aggregate: sum()=0, count()=0,
    // mean/min/max of an all-null window = null)
    val mp = if (minPeriods < 0) window else minPeriods
    new GRolling(df, window, ord, partitionBy, mp)
  }

  /** global shift across partition boundaries (two-phase, no shuffle). */
  def shift(valueCol: String, n: Int, out: String): GDF = {
    requireSortedIndex("shift")
    new GDF(graft.operators.MapOverlap.shift(df, valueCol, n, out), index)
  }

  /** diff(n) = x - shift(x, n) */
  def diff(valueCol: String, n: Int, out: String): GDF = {
    val shifted = shift(valueCol, n, "__shifted__")
    new GDF(
      shifted.df.withColumn(out, col(valueCol) - col("__shifted__")).drop("__shifted__"),
      index)
  }

  /** pandas `Series.autocorr(lag)` (`_collection.py` autocorr): Pearson
    * corr of the column with its lag-shifted self over the index order —
    * the q87 composition as a method (MapOverlap ghost-row shift, so no
    * single-task global window, then one corr aggregate).
    */
  def autocorr(valueCol: String, lag: Int = 1): Double = {
    val shifted = shift(valueCol, lag, "__lagged__")
    shifted.df.agg(corr(col(valueCol), col("__lagged__"))).head.getDouble(0)
  }

  /** pandas `Series.dot(other)` (`_collection.py` dot): sum of the
    * index-aligned products of two single-value-column frames — one inner
    * join on the index + one sum (broadcast-eligible under AQE).
    */
  def dotSeries(valueCol: String, other: GDF, otherCol: String): Double = {
    val ix = index.orElse(other.index).getOrElse(throw new IllegalStateException(
      "dotSeries needs an index on at least one side (setIndex/withIndex)")).cols
    val l = df.select(ix.map(col) :+ col(valueCol).as("__l__"): _*)
    val r = other.df.select(ix.map(col) :+ col(otherCol).as("__r__"): _*)
    l.join(r, ix).agg(sum(col("__l__") * col("__r__"))).head.getDouble(0)
  }

  /** global cumulative aggregates (distributed two-phase prefix scan). */
  def cumsum(valueCol: String, out: String): GDF = cumOp(valueCol, out, graft.operators.Cumulative.CumSum)
  def cumprod(valueCol: String, out: String): GDF = cumOp(valueCol, out, graft.operators.Cumulative.CumProd)
  def cummax(valueCol: String, out: String): GDF = cumOp(valueCol, out, graft.operators.Cumulative.CumMax)
  def cummin(valueCol: String, out: String): GDF = cumOp(valueCol, out, graft.operators.Cumulative.CumMin)
  private def cumOp(valueCol: String, out: String, op: graft.operators.Cumulative.Op): GDF = {
    requireSortedIndex("cumulative aggregate")
    new GDF(graft.operators.Cumulative(df, valueCol, op, out), index)
  }

  /** global forward/backward fill (distributed two-phase). */
  def ffill(valueCol: String): GDF = {
    requireSortedIndex("ffill")
    new GDF(graft.operators.Fill.ffill(df, valueCol), index)
  }
  def bfill(valueCol: String): GDF = {
    requireSortedIndex("bfill")
    new GDF(graft.operators.Fill.bfill(df, valueCol), index)
  }

  /** resample(rule) — tumbling-bucket aggregation (Resample operator). */
  def resample(seconds: Long, aggs: (String, Column)*): GDF = {
    val ts = index.map(_.primary).getOrElse(
      throw new IllegalStateException("resample requires a timestamp index"))
    new GDF(graft.operators.Resample.agg(df, ts, seconds, aggs), None)
  }

  /** merge_asof — see [[graft.operators.MergeAsof]]. */
  def mergeAsof(right: GDF, on: String, by: Seq[String] = Nil,
                direction: String = "backward", tolerance: Option[Double] = None,
                allowExactMatches: Boolean = true): GDF =
    new GDF(
      graft.operators.MergeAsof(df, right.df, on, by, direction, tolerance, allowExactMatches),
      index)

  private def requireSortedIndex(opName: String): Unit =
    require(index.exists(_.sorted),
      s"$opName is order-dependent: call setIndex(col) first (range-partitions + sorts)")

  // ---- UDF surface (SURVEY §2.10) --------------------------------------

  /** `map_partitions` — per-partition typed transform.  The declared
    * encoder plays the role of dask's `meta=` (SURVEY §1.2).
    */
  def mapPartitionsTyped[T: org.apache.spark.sql.Encoder, U: org.apache.spark.sql.Encoder](
      f: Iterator[T] => Iterator[U]): Dataset[U] =
    df.as[T].mapPartitions(f)

  // ---- actions ----------------------------------------------------------

  /** dask `compute()` — materialize to the driver. Only explicit action. */
  def compute(): Array[Row] = df.collect()

  /** `iterrows`/`itertuples` — streaming driver iterator (one partition
    * in memory at a time, not a full collect).
    */
  def iterRows(): java.util.Iterator[Row] = df.toLocalIterator()

  /** dask `to_records` — driver-side row tuples (alias of compute). */
  def toRecords(): Array[Row] = compute()

  /** dask `to_bag` — hand the rows to the functional Bag API. */
  def toBag[T: org.apache.spark.sql.Encoder]: GBag[T] = new GBag(df.as[T])

  def persist(): GDF = { df.persist(); this }
  def explainPlan(): Unit = df.explain("formatted")
}

object GDF {
  def apply(df: DataFrame): GDF = new GDF(df, None)
  def fromParquet(spark: SparkSession, path: String): GDF = graft.sources.IO.readParquet(spark, path)

  /** dask `from_array` (`_collection.py:4969`): a local 1-column array →
    * distributed frame with the positional index materialized as a column
    * (SURVEY §7.4 — Spark has no implicit row order).
    */
  def fromArray[T](spark: SparkSession, values: Seq[T], name: String = "value",
                   numPartitions: Int = 0)(implicit enc: org.apache.spark.sql.Encoder[(Long, T)]): GDF = {
    val indexed = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val ds = spark.createDataset(indexed)(enc).toDF("idx", name)
    val d = if (numPartitions > 0) ds.repartitionByRange(numPartitions, col("idx")).sortWithinPartitions("idx") else ds
    // sorted either way: a local Seq is sliced into partitions in order,
    // and the explicit-numPartitions path range-partitions + sorts
    new GDF(d, Some(IndexMeta(Seq("idx"), sorted = true)))
  }

  /** dask `from_dict` (`_collection.py:5035`): column-name → values map.
    * All columns must have equal length; rows are zipped positionally.
    */
  def fromDict(spark: SparkSession, columns: Seq[(String, Seq[Any])],
               numPartitions: Int = 0): GDF = {
    import org.apache.spark.sql.types._
    require(columns.nonEmpty, "from_dict requires at least one column")
    val n = columns.head._2.length
    require(columns.forall(_._2.length == n), "all columns must have the same length")
    // numeric columns promote like numpy: any float value → double column;
    // mixed numeric/non-numeric is rejected up front with a clear error
    // (the lazy alternative is a ClassCastException deep in execution)
    def inferAndNorm(name: String, vs: Seq[Any]): (DataType, Seq[Any]) = {
      val nonNull = vs.filter(_ != null)
      val dt =
        if (nonNull.isEmpty) StringType
        else if (nonNull.forall { case _: Int | _: Long => true; case _ => false }) LongType
        else if (nonNull.forall {
          case _: Int | _: Long | _: Float | _: Double => true; case _ => false }) DoubleType
        else if (nonNull.forall(_.isInstanceOf[Boolean])) BooleanType
        else if (nonNull.forall(_.isInstanceOf[String])) StringType
        else throw new IllegalArgumentException(
          s"from_dict column '$name' mixes incompatible value types: " +
            nonNull.map(_.getClass.getSimpleName).distinct.mkString(", "))
      val normed = vs.map {
        case null => null
        case v: Int if dt == LongType => v.toLong
        case v: Int => v.toDouble
        case v: Long if dt == DoubleType => v.toDouble
        case v: Float => v.toDouble
        case v => v
      }
      (dt, normed)
    }
    val inferred = columns.map { case (name, vs) => (name, inferAndNorm(name, vs)) }
    val fields = StructField("idx", LongType, nullable = false) +:
      inferred.map { case (name, (dt, _)) => StructField(name, dt, nullable = true) }
    val rows = (0 until n).map { i =>
      Row.fromSeq(i.toLong +: inferred.map(_._2._2(i)))
    }
    val ds = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, numPartitions)),
      StructType(fields))
    // parallelize slices the local rows in order → index-sorted layout
    new GDF(ds, Some(IndexMeta(Seq("idx"), sorted = true)))
  }
}
