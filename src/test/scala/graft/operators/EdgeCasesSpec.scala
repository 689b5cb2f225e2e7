package graft.operators

import graft.SparkTestBase
import graft.api.{GDF, GRolling}
import org.apache.spark.sql.functions._

/** FIXTURES §3 edge-case checklist: empty frames/partitions, all-null
  * columns, duplicate join keys, null group keys — every distributed
  * operator must degrade to the correct small answer, not throw.
  */
class EdgeCasesSpec extends SparkTestBase {
  import spark.implicits._

  private def emptyDF = Seq.empty[(Long, Double)].toDF("idx", "v").repartition(3)
  private def nullsDF = Seq(
    (1L, None: Option[Double]), (2L, None), (3L, None), (4L, None)
  ).toDF("idx", "v").repartitionByRange(2, col("idx")).sortWithinPartitions("idx")

  test("empty frames: overlap/cumulative/fill/dedup/similarity yield empty") {
    assert(MapOverlap.rollingSum(emptyDF, "v", 3, "out").count() == 0)
    assert(MapOverlap.shift(emptyDF, "v", 2, "out").count() == 0)
    assert(MapOverlap.rollingCenteredAgg(emptyDF, "v", 3, "out", 1)(_.sum).count() == 0)
    assert(MapOverlap.rollingRangeAgg(emptyDF, "v", "idx", 5.0, "out")(_.sum).count() == 0)
    assert(Cumulative(emptyDF, "v", Cumulative.CumSum, "out").count() == 0)
    val ed = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(Dedup.jaccardNearDupPairs(ed, "doc_id", "text", Seq("lang")).count() == 0)
    assert(Dedup.nearDuplicates(ed, "doc_id", "text", 0.5).count() == 0)
    assert(Dedup.simhashNearDups(ed, "doc_id", "text").count() == 0)
    val ev = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.exactNearDupPairs(ev, "vec_id", "embedding", 0.9).count() == 0)
  }

  test("all-null value column: rolling/cumulative/fill emit nulls, not errors") {
    val rolled = MapOverlap.rollingSum(nullsDF, "v", 2, "out", minPeriods = 1)
      .select("out").collect()
    assert(rolled.forall(_.isNullAt(0)))
    val cum = Cumulative(nullsDF, "v", Cumulative.CumSum, "out").select("out").collect()
    assert(cum.forall(_.isNullAt(0)))
    val filled = Fill.ffill(nullsDF, "v")
    assert(filled.select("v").collect().forall(_.isNullAt(0)))
  }

  test("more partitions than rows: ghosts and prefix scans still line up") {
    val tiny = Seq((1L, 10.0), (2L, 20.0)).toDF("idx", "v")
      .repartitionByRange(8, col("idx")).sortWithinPartitions("idx")
    val out = MapOverlap.rollingSum(tiny, "v", 2, "out")
      .select("idx", "out").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 10.0, 2L -> 30.0))
    val cum = Cumulative(tiny, "v", Cumulative.CumSum, "out")
      .select("idx", "out").as[(Long, Double)].collect().toMap
    assert(cum == Map(1L -> 10.0, 2L -> 30.0))
  }

  test("duplicate join keys merge m x n; null keys never align") {
    val l = GDF(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "lv"))
    val r = GDF(Seq((1L, "x"), (1L, "y")).toDF("k", "rv"))
    assert(l.merge(r, on = Seq("k"), how = "inner").count() == 4)
    val ln = GDF(Seq((Some(1L), "a"), (None, "b")).toDF("k", "lv"))
    val rn = GDF(Seq((Some(1L), "x"), (None, "y")).toDF("k", "rv"))
    assert(ln.merge(rn, on = Seq("k"), how = "inner").count() == 1)
  }

  test("groupby null keys: dropna=true excludes, dropna=false keeps") {
    val d = GDF(Seq((Some("a"), 1.0), (None, 2.0), (Some("a"), 3.0))
      .toDF("k", "v"))
    assert(d.groupby("k").sum("v").count() == 1)
    assert(d.groupbyDropna(false, "k").sum("v").count() == 2)
  }

  test("two-pass operators survive a downstream coalesce(1)") {
    // a coalesce collapses the narrow chain into one task; the operators'
    // pid bookkeeping must use the RDD split index, not the task id —
    // regression for a carry misalignment the 10× oracle gate caught
    val df = Seq.tabulate(40)(i => (i.toLong, if (i % 7 == 0) None else Some(i * 1.5)))
      .toDF("idx", "v").repartitionByRange(8, col("idx")).sortWithinPartitions("idx")
    val bf = Fill.bfill(df, "v").coalesce(1)
      .select("idx", "v").as[(Long, Option[Double])].collect().toMap
    for (i <- 0 until 40) {
      val nextNonNull = (i until 40).find(_ % 7 != 0).map(_ * 1.5)
      assert(bf(i.toLong) == nextNonNull, s"bfill idx=$i")
    }
    val cum = Cumulative(df.drop("v").withColumn("v", col("idx").cast("double")),
        "v", Cumulative.CumSum, "out").coalesce(1)
      .select("idx", "out").as[(Long, Double)].collect().toMap
    for (i <- 0 until 40) assert(cum(i.toLong) == (0 to i).sum * 1.0, s"cumsum idx=$i")
    val roll = MapOverlap.rollingSum(
        df.drop("v").withColumn("v", lit(1.0)), "v", 5, "out").coalesce(1)
      .select("idx", "out").as[(Long, Double)].collect().toMap
    for (i <- 0 until 40) assert(roll(i.toLong) == math.min(i + 1, 5).toDouble, s"roll idx=$i")

    // every other scan-kernel form: forward and backward Tree carries, the
    // Sequential carry, and the grouped form under both carries
    val v = (0 until 40).map(i => if (i % 7 == 0) None else Some(i * 1.5))
    def lastNonNull(i: Int, from: Int = 0) = (from to i).reverse.flatMap(v(_)).headOption
    val ff = Fill.ffill(df, "v").coalesce(1)
      .select("idx", "v").as[(Long, Option[Double])].collect().toMap
    for (i <- 0 until 40) assert(ff(i.toLong) == lastNonNull(i), s"ffill idx=$i")
    val exp = Expanding.aggs(df, "v", Seq("idx"), Seq("n" -> "count")).coalesce(1)
      .select("idx", "n").as[(Long, Long)].collect().toMap
    for (i <- 0 until 40) assert(exp(i.toLong) == (0 to i).count(v(_).nonEmpty), s"expanding idx=$i")
    // driver-side recurrences: alpha 0.5 by rows, and halflife 2 s over 1 s steps
    def ewmRef(d: Double, xs: Seq[Option[Double]] = v): Seq[Double] = xs.scanLeft((0.0, 0.0)) { case ((s, w), x) =>
      (s * d + x.getOrElse(0.0), w * d + (if (x.isDefined) 1.0 else 0.0)) }.tail
      .map { case (s, w) => if (w > 0) s / w else Double.NaN }
    for ((got, d, what) <- Seq(
        (Ewm.statsIndexed(df, "v", 0.5), 0.5, "ewm"),
        (Ewm.statsIndexedTimes(df.withColumn("ts", col("idx").cast("double")), "v", "ts", 2.0),
          math.pow(0.5, 0.5), "ewm times"))) {
      val m = got.coalesce(1).select("rn", "ewm_mean").as[(Long, Option[Double])].collect().toMap
      val want = ewmRef(d)
      for (i <- 0 until 40)
        assert(m(i.toLong).forall(x => math.abs(x - want(i)) < 1e-9) &&
          m(i.toLong).isEmpty == want(i).isNaN, s"$what rn=$i: ${m(i.toLong)} vs ${want(i)}")
    }
    val ld = MapOverlap.lead(df, "v", 3, "out").coalesce(1)
      .select("idx", "out").as[(Long, Option[Double])].collect().toMap
    for (i <- 0 until 40) assert(ld(i.toLong) == v.lift(i + 3).flatten, s"lead idx=$i")
    val rr = MapOverlap.rollingRangeAgg(df.withColumn("o", col("idx").cast("double")),
        "v", "o", 2.0, "out")(_.sum).coalesce(1)
      .select("idx", "out").as[(Long, Option[Double])].collect().toMap
    for (i <- 0 until 40) {
      val in = (math.max(0, i - 2) to i).flatMap(v(_))
      assert(rr(i.toLong) == (if (in.isEmpty) None else Some(in.sum)), s"range idx=$i")
    }
    val grp = df.withColumn("g", (col("idx") / 10).cast("long"))
    val gc = Cumulative.grouped(grp, Seq("g"), Seq("idx"), "idx", Cumulative.CumSum, "out")
      .coalesce(1).select("idx", "out").as[(Long, Long)].collect().toMap
    for (i <- 0 until 40) assert(gc(i.toLong) == (i / 10 * 10 to i).sum, s"grouped cumsum idx=$i")
    val gf = Fill.groupedFfill(grp, Seq("g"), Seq("idx"), "v").coalesce(1)
      .select("idx", "v").as[(Long, Option[Double])].collect().toMap
    for (i <- 0 until 40) assert(gf(i.toLong) == lastNonNull(i, i / 10 * 10), s"grouped ffill idx=$i")
    val ek = Ewm.statsKeyed(grp, "g", Seq("idx"), "v", 0.5).coalesce(1)
      .select("idx", "ewm_mean").as[(Long, Option[Double])].collect().toMap
    for (i <- 0 until 40) {
      val want = ewmRef(0.5, v.slice(i / 10 * 10, i / 10 * 10 + 10))(i % 10)
      assert(ek(i.toLong).forall(x => math.abs(x - want) < 1e-9) &&
        ek(i.toLong).isEmpty == want.isNaN, s"keyed ewm idx=$i: ${ek(i.toLong)} vs $want")
    }
    val ak = new graft.api.GRolling(grp, 3, Seq("idx"), Seq("g"), 1).applyKeyed("v", "out")(_.sum)
      .coalesce(1).select("idx", "out").as[(Long, Option[Double])].collect().toMap
    for (i <- 0 until 40) {
      val in = (math.max(i / 10 * 10, i - 2) to i).flatMap(v(_))
      assert(ak(i.toLong) == (if (in.isEmpty) None else Some(in.sum)), s"applyKeyed idx=$i")
    }
    val acc = graft.api.GBag(df.select("idx").as[Long]).accumulate(_ + _).ds.coalesce(1).collect()
    assert(acc.toSeq.sorted == (0 until 40).map(i => (0 to i).sum.toLong), "accumulate")

    // the positional operators: a count pass, then a pick or pack pass that
    // must address the same splits
    val x = df.withColumn("x", col("idx").cast("double")).withColumn("y", -col("x"))
    val fc = GArr.fromColumn(x, "x", Seq("idx"), chunk = 6)
    val fcGot = fc.copy(blocks = fc.blocks.coalesce(1)).toIndexedDF
      .select("idx", "value").as[(Long, Double)].collect().toMap
    assert(fcGot == (0 until 40).map(i => i.toLong -> i.toDouble).toMap, "fromColumn")
    val fcs = GArr.fromColumns(x, Seq("x", "y"), Seq("idx"), chunk = 6)
    val fcsGot = fcs.copy(blocks = fcs.blocks.coalesce(1)).toIndexedDF
      .select("idx", "value").as[(Long, Double)].collect().toMap
    assert(fcsGot == (0 until 80).map(f => f.toLong -> (if (f % 2 == 0) 1.0 else -1.0) * (f / 2)).toMap,
      "fromColumns")
    // Floyd's draw over [0, 40) with the operator's seed; position g holds idx g
    val rng = new java.util.Random(3L)
    val chosen = scala.collection.mutable.HashSet[Long]()
    for (j <- 33L until 40L) {
      val t = math.floorMod(rng.nextLong(), j + 1)
      if (!chosen.add(t)) chosen.add(j)
    }
    val smp = graft.api.GBag(df.select("idx").as[Long]).sample(7, seed = 3L).ds.coalesce(1).collect()
    assert(smp.toSet == chosen.toSet && smp.length == 7, "sample")
  }

  test("idxmin/idxmax skip null values (pandas skipna)") {
    val d = GDF(Seq(
      ("g", Some(3.0), 2L), ("g", None, 7L), ("h", None, 9L)
    ).toDF("k", "v", "idx"))
    val mn = d.groupby("k").idxmin("v", "idx").df.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(mn("g") == Some(2L)) // not the null-value row's idx 7
    assert(mn("h").isEmpty)     // all-null group → null, not 9
    val mx = d.groupby("k").idxmax("v", "idx").df.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(mx("g") == Some(2L) && mx("h").isEmpty)
  }

  test("merge_asof carries the matched right row atomically (nulls included)") {
    val l = Seq((1L, 3.0)).toDF("k", "t")
    val r = Seq(
      (1L, 1.0, Some(5.0), None: Option[Double]),
      (1L, 2.0, None, Some(8.0))
    ).toDF("k", "t", "rv1", "rv2")
    val out = MergeAsof(l, r, on = "t", by = Seq("k")).collect().head
    // backward match is the t=2 row: rv1 must be ITS null, not t=1's 5.0;
    // rv2 must be its 8.0 — both from the same right row
    assert(out.isNullAt(out.fieldIndex("rv1")))
    assert(out.getDouble(out.fieldIndex("rv2")) == 8.0)
  }

  test("merge_asof with an empty right side keeps left rows, null payload") {
    val l = Seq((1L, 1.0), (1L, 5.0)).toDF("k", "t")
    val r = Seq.empty[(Long, Double, Double)].toDF("k", "t", "rv")
    val out = MergeAsof(l, r, on = "t", by = Seq("k"))
    assert(out.count() == 2)
    assert(out.select("rv").collect().forall(_.isNullAt(0)))
  }

  test("global rolling on a keyed-API frame with one row per partition") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("idx", "v").repartitionByRange(4, col("idx")).sortWithinPartitions("idx")
    val med = new GRolling(df, 3, Seq("idx"), Nil, 1)
      .quantile("v", 0.5, "out")
      .select("idx", "out").as[(Long, Double)].collect().toMap
    assert(med == Map(1L -> 1.0, 2L -> 1.5, 3L -> 2.0, 4L -> 3.0))
  }
}
