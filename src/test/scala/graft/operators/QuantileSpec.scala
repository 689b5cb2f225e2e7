package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The distributed exact-percentile operator must reproduce Spark's
  * builtin `percentile` aggregate BIT-FOR-BIT (`==` on doubles) — q12's
  * and q102's oracle hashes were gated under the builtin, so any ulp of
  * drift in the replacement is a correctness regression, not noise.
  */
class QuantileSpec extends SparkTestBase {

  private def builtin(df: org.apache.spark.sql.DataFrame, c: String,
      ps: Seq[Double]): Array[Double] = {
    val arr = array(ps.map(lit): _*)
    df.agg(percentile(col(c), arr).as("ps"))
      .head.getSeq[Double](0).toArray
  }

  private def mkDf(vs: Seq[java.lang.Double]) = {
    val rows = vs.map(v => Row(v))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("v", DoubleType, nullable = true))))
  }

  private val probes = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)

  test("matches the builtin on fixture lineitem prices, bit-exact") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val got = Quantile.exact(li, "l_extendedprice", probes)
    val want = builtin(li, "l_extendedprice", probes)
    assert(got.length == want.length)
    got.zip(want).zip(probes).foreach { case ((g, w), p) =>
      assert(g == w, s"p=$p: got $g want $w")
    }
  }

  test("matches the builtin on a low-cardinality integer-valued column") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val got = Quantile.exact(li, "l_quantity", probes)
    val want = builtin(li, "l_quantity", probes)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("edge shapes: single row, two rows, ties, exact-integer positions") {
    // single row: every percentile is the row
    val one = mkDf(Seq(42.5))
    assert(Quantile.exact(one, "v", probes).forall(_ == 42.5))
    // two rows: p=0.5 interpolates at position 0.5
    val two = mkDf(Seq(1.0, 2.0))
    val g2 = Quantile.exact(two, "v", Seq(0.0, 0.5, 1.0))
    val w2 = builtin(two, "v", Seq(0.0, 0.5, 1.0))
    g2.zip(w2).foreach { case (g, w) => assert(g == w) }
    // all-equal values and tied neighbors
    val ties = mkDf(Seq(3.0, 3.0, 3.0, 3.0, 7.0))
    val g3 = Quantile.exact(ties, "v", probes)
    val w3 = builtin(ties, "v", probes)
    g3.zip(w3).foreach { case (g, w) => assert(g == w) }
    // n=5, p=0.25 -> position exactly 1.0 (floor == ceil branch)
    val five = mkDf(Seq(10.0, 20.0, 30.0, 40.0, 50.0))
    val g4 = Quantile.exact(five, "v", Seq(0.25, 0.5, 0.75))
    val w4 = builtin(five, "v", Seq(0.25, 0.5, 0.75))
    g4.zip(w4).foreach { case (g, w) => assert(g == w) }
  }

  test("nulls are dropped like the builtin") {
    val withNulls = mkDf(Seq(1.0, null, 2.0, null, 3.0))
    val g = Quantile.exact(withNulls, "v", Seq(0.0, 0.5, 1.0))
    val w = builtin(withNulls, "v", Seq(0.0, 0.5, 1.0))
    g.zip(w).foreach { case (a, b) => assert(a == b) }
  }

  test("NaN is COUNTED like the builtin (a value ordered greatest), not dropped") {
    val withNaN = mkDf(Seq(1.0, Double.NaN, 2.0, 3.0))
    val g = Quantile.exact(withNaN, "v", Seq(0.0, 0.5, 1.0))
    val w = builtin(withNaN, "v", Seq(0.0, 0.5, 1.0))
    assert(g(0) == w(0) && g(1) == w(1))
    assert(g(2).isNaN && w(2).isNaN) // p=1.0 lands on the NaN
  }

  test("grouped: matches the builtin per group on fixture lineitem, bit-exact") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val ps = Seq(0.25, 0.5, 0.75)
    val got = Quantile.exactGrouped(li, "l_returnflag", "l_extendedprice", ps)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val want = li.groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"), array(ps.map(lit): _*)).as("ps"))
      .collect().map { r =>
        val s = r.getSeq[Double](1); r.getString(0) -> (s(0), s(1), s(2))
      }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, g) => assert(g == want(k), s"group $k") }
  }

  test("grouped: hot group spanning partitions, single-row group, nulls") {
    val rows =
      (1 to 3000).map(i => Row("hot", i.toDouble)) ++
      Seq(Row("one", 42.0), Row("n", null), Row("n", 7.0), Row("n", 9.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 7),
      StructType(Seq(StructField("g", org.apache.spark.sql.types.StringType),
        StructField("v", DoubleType, nullable = true))))
    val ps = Seq(0.0, 0.3, 0.5, 1.0)
    val got = Quantile.exactGrouped(df, "g", "v", ps)
      .collect().map(r => r.getString(0) ->
        (1 to 4).map(r.getDouble).toVector).toMap
    val want = df.groupBy(col("g"))
      .agg(percentile(col("v"), array(ps.map(lit): _*)).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toVector).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, g) => assert(g == want(k), s"group $k") }
    // the hot group genuinely spans >1 sorted partition (the operator's
    // point is that no task holds a whole hot group)
    val sortedParts = df.filter(col("v").isNotNull)
      .select(col("g"), col("v")).rdd
      .map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(identity).mapPartitions { it =>
        Iterator.single(it.map(_._1).toSet)
      }.collect()
    assert(sortedParts.count(_.contains("hot")) > 1,
      "test shape: hot group must span partitions")
  }

  test("grouped: null group is its own group, distinct from the string 'null'") {
    val rows = Seq(Row(null, 1.0), Row(null, 3.0), Row("null", 10.0),
      Row("null", 30.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("g", org.apache.spark.sql.types.StringType,
        nullable = true), StructField("v", DoubleType))))
    val got = Quantile.exactGrouped(df, "g", "v", Seq(0.5))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(got == Map(None -> 2.0, Some("null") -> 20.0))
  }

  test("grouped: cardinality guard falls back to the builtin above maxGroups") {
    // 40 distinct groups with maxGroups=8: the bounded probe must fire
    // the builtin fallback (no unbounded dictionary collect), and the
    // fallback's values must equal the tree path's (run with a threshold
    // that admits all 40 groups)
    val rows = (1 to 400).map(i => Row(s"g${i % 40}", i.toDouble))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 5),
      StructType(Seq(StructField("g", org.apache.spark.sql.types.StringType),
        StructField("v", DoubleType))))
    val ps = Seq(0.25, 0.5, 0.75)
    def toMap(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getString(0) ->
        (1 to 3).map(r.getDouble).toVector).toMap
    val fellBack = Quantile.exactGrouped(df, "g", "v", ps, maxGroups = 8)
    // the fallback is the builtin plan, not the sort+pick path: its plan
    // contains the percentile aggregate
    assert(fellBack.queryExecution.optimizedPlan.toString.contains("percentile"),
      "expected the builtin-percentile fallback plan above maxGroups")
    val viaTree = Quantile.exactGrouped(df, "g", "v", ps, maxGroups = 100)
    assert(!viaTree.queryExecution.optimizedPlan.toString.contains("percentile"))
    val a = toMap(fellBack)
    val b = toMap(viaTree)
    assert(a.keySet == b.keySet && a.keySet.size == 40)
    a.foreach { case (k, g) => assert(g == b(k), s"group $k") }
  }

  test("signed zeros: -0.0 and 0.0 together match the builtin by ==, not by bits") {
    // the documented divergence: the SQL sort ties -0.0 with 0.0 where the
    // builtin orders -0.0 first, so a statistic inside the zero run may be
    // the other zero; every result must still be == to the builtin's
    val zs: Seq[java.lang.Double] = Seq(0.0, -1.0, -0.0, 0.0, -0.0, 2.0, -0.0, 0.0)
    val g = Quantile.exact(mkDf(zs), "v", probes)
    val w = builtin(mkDf(zs), "v", probes)
    g.zip(w).zip(probes).foreach { case ((a, b), p) => assert(a == b, s"p=$p: $a vs $b") }
    val rows = zs.map(v => Row("z", v)) ++ Seq(Row("y", -0.0), Row("y", 0.0), Row("y", 3.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("g", org.apache.spark.sql.types.StringType),
        StructField("v", DoubleType))))
    val got = Quantile.exactGrouped(df, "g", "v", probes)
      .collect().map(r => r.getString(0) -> probes.indices.map(i => r.getDouble(i + 1))).toMap
    val want = df.groupBy(col("g")).agg(percentile(col("v"), array(probes.map(lit): _*)))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet == Set("y", "z") && got.keySet == want.keySet)
    for (k <- got.keySet; i <- probes.indices)
      assert(got(k)(i) == want(k)(i), s"group $k p=${probes(i)}: ${got(k)(i)} vs ${want(k)(i)}")
  }

  test("empty and out-of-range inputs are refused") {
    val empty = mkDf(Seq.empty)
    intercept[IllegalArgumentException] {
      Quantile.exact(empty, "v", Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Quantile.exact(mkDf(Seq(1.0)), "v", Seq(1.5))
    }
  }
}
