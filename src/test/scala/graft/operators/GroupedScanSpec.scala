package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-resilient grouped cumulative scan (`Cumulative.grouped`): the
  * range-split + segmented-tree-carry path must equal the one-task-per-
  * group SQL window semantics on every shape that exercises the carry —
  * groups spanning many partitions (the zipf-hot-group motivation),
  * group boundaries landing exactly on partition boundaries, null
  * values, and empty partitions.
  */
class GroupedScanSpec extends SparkTestBase {
  import spark.implicits._

  // 3 groups of very different sizes over MANY partitions: group "h"
  // (hot) spans most partitions, "a"/"z" pin the edges. Values are
  // integral so the split is exact by construction.
  private def skewed = {
    val rows = (0 until 40).map(i => ("a", i, i % 7)) ++
      (0 until 3000).map(i => ("h", i, (i * 13) % 11)) ++
      (0 until 25).map(i => ("z", i, i % 5))
    rows.toDF("g", "ord", "v").withColumn("v", col("v").cast("long"))
  }

  private def windowCum(df: org.apache.spark.sql.DataFrame, agg: String) = {
    val w = Window.partitionBy("g").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = if (agg == "sum") sum(col("v")).over(w) else product(col("v") + 1).over(w)
    // pandas cum* semantics: a null row emits null (and doesn't advance)
    df.withColumn("expect", when(col("v").isNull, lit(null)).otherwise(e))
  }

  private def asMap(df: org.apache.spark.sql.DataFrame, c: String) =
    df.select(col("g"), col("ord"), col(c)).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.get(2)).toMap

  test("grouped cumsum == window cumsum when the hot group spans many partitions") {
    spark.conf.set("spark.sql.shuffle.partitions", "24")
    try {
      val got = Cumulative.grouped(skewed, Seq("g"), Seq("ord"), "v", Cumulative.CumSum, "cs")
      // the hot group must actually span partitions, or this tests nothing
      val span = got.rdd.mapPartitions { it =>
        val gs = it.map(_.getString(0)).toSet; Iterator.single(if (gs("h")) 1 else 0)
      }.sum()
      assert(span >= 4, s"hot group spans only $span partitions — raise the row count")
      assert(asMap(got, "cs") == asMap(windowCum(skewed, "sum"), "expect"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("grouped cumsum == window cumsum when the key mixes -0.0 and 0.0") {
    // SQL ordering sorts the two zeros as one value, so their rows
    // interleave by order; the group key must treat them as one group too
    val df = ((0 until 300).map(i => (if (i % 3 == 0) -0.0 else 0.0, i, (i % 7).toLong)) ++
      (300 until 400).map(i => (1.0, i, (i % 5).toLong))).toDF("g", "ord", "v")
    val got = Cumulative.grouped(df, Seq("g"), Seq("ord"), "v", Cumulative.CumSum, "cs")
    def byOrd(d: org.apache.spark.sql.DataFrame, c: String) =
      d.select(col("ord"), col(c)).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = byOrd(windowCum(df, "sum"), "expect")
    assert(want(299) == (0 until 300).map(_ % 7).sum, "the window must see one zero group")
    assert(byOrd(got, "cs") == want)
  }

  test("grouped cumprod (double) == window product within 1e-9 relative") {
    // factors near 1.0 so the 3000-deep hot-group product stays finite
    val df = skewed.withColumn("v", lit(1.0) + col("v").cast("double") / 1000.0)
    val got = Cumulative.grouped(df, Seq("g"), Seq("ord"), "v", Cumulative.CumProd, "cp")
      .select(col("g"), col("ord"), col("cp")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val w = Window.partitionBy("g").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = df.withColumn("e", product(col("v")).over(w))
      .select(col("g"), col("ord"), col("e")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, v) =>
      val e = exp(k)
      assert(math.abs(v - e) <= 1e-9 * math.max(1.0, math.abs(e)), s"$k: $v vs $e")
    }
  }

  test("nulls don't advance the accumulator and emit null, across a split group") {
    val rows = (0 until 400).map { i =>
      ("only", i, if (i % 5 == 0) null else java.lang.Long.valueOf(i % 9))
    }
    val df = rows.toDF("g", "ord", "v")
    val got = Cumulative.grouped(df, Seq("g"), Seq("ord"), "v", Cumulative.CumSum, "cs")
    assert(asMap(got, "cs") == asMap(windowCum(df, "sum"), "expect"))
  }

  test("many tiny groups (every boundary is a group change) still match") {
    val df = (0 until 500).map(i => (s"g${i / 2}", i % 2, (i % 3).toLong))
      .toDF("g", "ord", "v")
    val got = Cumulative.grouped(df, Seq("g"), Seq("ord"), "v", Cumulative.CumSum, "cs")
    assert(asMap(got, "cs") == asMap(windowCum(df, "sum"), "expect"))
  }

  test("empty input yields the schema with the out column and no rows") {
    val df = Seq.empty[(String, Int, Long)].toDF("g", "ord", "v")
    val got = Cumulative.grouped(df, Seq("g"), Seq("ord"), "v", Cumulative.CumSum, "cs")
    assert(got.columns.last == "cs" && got.count() == 0)
  }

  test("grouped tree ffill == window last(ignoreNulls) with a split hot group") {
    val rows = (0 until 40).map(i => ("a", i, if (i % 3 == 0) null else java.lang.Long.valueOf(i))) ++
      (0 until 3000).map(i => ("h", i, if (i % 4 != 1) null else java.lang.Long.valueOf(i * 7))) ++
      (0 until 25).map(i => ("z", i, if (i < 20) null else java.lang.Long.valueOf(i)))
    val df = rows.toDF("g", "ord", "v")
    val got = Fill.groupedFfill(df, Seq("g"), Seq("ord"), "v")
    val w = Window.partitionBy("g").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = df.withColumn("v", last(col("v"), ignoreNulls = true).over(w))
    assert(asMap(got, "v") == asMap(exp, "v"))
    // a null run at a group head stays null — no leak from the prior group
    assert(got.filter(col("g") === "z" && col("ord") < 20 && col("v").isNotNull).count() == 0)
  }

  test("grouped tree bfill == window first(ignoreNulls) looking forward") {
    val rows = (0 until 2000).map(i =>
      ("k" + (i % 3), i, if (i % 5 != 2) null else java.lang.Long.valueOf(i)))
    val df = rows.toDF("g", "ord", "v")
    val got = Fill.groupedFfill(df, Seq("g"), Seq("ord"), "v", descendingOrder = true)
    val w = Window.partitionBy("g").orderBy("ord")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val exp = df.withColumn("v", first(col("v"), ignoreNulls = true).over(w))
    assert(asMap(got, "v") == asMap(exp, "v"))
  }

  test("grouped tree rolling sum == keyed SQL window with a split hot group") {
    val df = skewed
    val got = MapOverlap.rollingAggGrouped(df, Seq("g"), Seq("ord"), "v", 4, "rs", 1)(_.sum)
    val w = Window.partitionBy("g").orderBy("ord").rowsBetween(-3, Window.currentRow)
    val exp = df.withColumn("rs", sum(col("v")).over(w).cast("double"))
    assert(asMap(got, "rs") == asMap(exp, "rs"))
  }

  test("grouped tree rolling: ghost rows from another group don't leak at boundaries") {
    // many groups of exactly 3 rows with window 5 — every partition
    // boundary lands mid- or between-group, and any leak from the
    // previous group inflates the first rows' windows
    val df = (0 until 1200).map(i => (s"g${i / 3}", i % 3, ((i % 3) + 1).toLong))
      .toDF("g", "ord", "v")
    val got = MapOverlap.rollingAggGrouped(df, Seq("g"), Seq("ord"), "v", 5, "rs", 1)(_.sum)
    // each group is (1,2,3) so the rolling sums must be exactly (1,3,6)
    val bad = got.filter(
      (col("ord") === 0 && col("rs") =!= 1.0) ||
      (col("ord") === 1 && col("rs") =!= 3.0) ||
      (col("ord") === 2 && col("rs") =!= 6.0)).count()
    assert(bad == 0)
  }

  test("grouped tree rolling minPeriods gates on valid observations") {
    val rows = (0 until 300).map(i =>
      ("k", i, if (i % 2 == 0) null else java.lang.Long.valueOf(1L)))
    val df = rows.toDF("g", "ord", "v")
    val got = MapOverlap.rollingAggGrouped(df, Seq("g"), Seq("ord"), "v", 4, "rs", 2)(_.sum)
    // window of 4 alternating null/1 holds exactly 2 valid obs once ord>=3
    assert(got.filter(col("ord") >= 3 && col("rs") =!= 2.0).count() == 0)
    assert(got.filter(col("ord") === 0).collect().head.get(3) == null)
  }

  test("GGroupBy.cumsumTree surface matches the window cumsum on lineitem-like data") {
    val df = (0 until 1000).map(i => (i % 37, i / 37, (i % 23).toLong))
      .toDF("k", "ord", "v")
    val got = graft.api.GDF(df).groupby("k").cumsumTree("v", Seq("ord"), "cs").df
    val w = Window.partitionBy("k").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = df.withColumn("cs", sum(col("v")).over(w))
    assert(got.select("k", "ord", "cs").collect().map(_.toSeq).toSet ==
      exp.select("k", "ord", "cs").collect().map(_.toSeq).toSet)
  }
}
