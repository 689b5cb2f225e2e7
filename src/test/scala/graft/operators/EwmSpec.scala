package graft.operators

import graft.SparkTestBase

/** Distributed EWM vs the O(n²) direct definition (adjust=True):
  * mean_t = Σ x_i q^{t-i} / Σ q^{t-i}, var with pandas bias correction —
  * independent of the engine's recurrence, across partitionings.
  */
class EwmSpec extends SparkTestBase {

  import spark.implicits._

  private def reference(xs: Seq[Option[Double]], alpha: Double): Seq[(Option[Double], Option[Double])] = {
    val q = 1.0 - alpha
    xs.indices.map { t =>
      val terms = (0 to t).flatMap { i =>
        xs(i).map(x => (x, math.pow(q, (t - i).toDouble)))
      }
      val w = terms.map(_._2).sum
      val w2 = terms.map(p => p._2 * p._2).sum
      if (terms.isEmpty || w <= 0) (None, None)
      else {
        val m = terms.map(p => p._1 * p._2).sum / w
        val denom = w * w - w2
        val v = if (denom > 0) {
          val biased = terms.map(p => p._1 * p._1 * p._2).sum / w - m * m
          Some(math.max(0.0, biased * w * w / denom))
        } else None
        (Some(m), v)
      }
    }
  }

  private def run(xs: Seq[Option[Double]], alpha: Double, parts: Int): Seq[(Option[Double], Option[Double])] = {
    val df = xs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(Double.box).orNull) }
      .toDF("k", "v")
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k")
    Ewm.statsIndexed(df, "v", alpha).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]),
                 Option(r.get(2)).map(_.asInstanceOf[Double])))
      .sortBy(_._1).map(t => (t._2, t._3)).toSeq
  }

  private def close(a: Option[Double], b: Option[Double], tag: String): Unit = (a, b) match {
    case (None, None) =>
    case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-10, s"$tag: $x vs $y")
    case _ => fail(s"$tag: $a vs $b")
  }

  test("pandas-known values: mean of [1,2,3] alpha=0.5; var of [1,2] = 0.5") {
    val got = run(Seq(Some(1.0), Some(2.0), Some(3.0)), 0.5, 2)
    close(got(0)._1, Some(1.0), "m0")
    close(got(1)._1, Some(2.5 / 1.5), "m1")
    close(got(2)._1, Some(4.25 / 1.75), "m2")
    assert(got(0)._2.isEmpty, "var needs 2 obs")
    close(got(1)._2, Some(0.5), "v1")
  }

  test("random series with nulls matches the direct definition under any partitioning") {
    val rnd = new scala.util.Random(42)
    for (alpha <- Seq(0.2, 0.5, 0.9); parts <- Seq(1, 3, 7)) {
      val xs = Seq.tabulate(50)(i =>
        if (rnd.nextDouble() < 0.15) None else Some(math.floor(rnd.nextDouble() * 20) - 5))
      val exp = reference(xs, alpha)
      val got = run(xs, alpha, parts)
      assert(got.length == 50)
      xs.indices.foreach { t =>
        close(got(t)._1, exp(t)._1, s"alpha=$alpha parts=$parts mean t=$t")
        close(got(t)._2, exp(t)._2, s"alpha=$alpha parts=$parts var t=$t")
      }
    }
  }

  test("partitioning invariance: 1 vs 13 partitions bitwise-comparable to 1e-12") {
    val xs = Seq.tabulate(200)(i => Some(((i * 37) % 11).toDouble))
    val a = run(xs, 0.3, 1)
    val b = run(xs, 0.3, 13)
    xs.indices.foreach { t =>
      close(a(t)._1, b(t)._1, s"mean t=$t")
      close(a(t)._2, b(t)._2, s"var t=$t")
    }
  }

  test("keyed ewm: per-group recurrence matches the direct definition per key") {
    val rnd = new scala.util.Random(7)
    val rows = for (k <- Seq("a", "b", "c"); i <- 0 until 25) yield
      (k, i, if (rnd.nextDouble() < 0.1) null else Double.box(math.floor(rnd.nextDouble() * 10)))
    // shuffled input order — the op must sort within groups itself
    val df = rnd.shuffle(rows).toDF("k", "i", "v").repartition(5)
    val collected = Ewm.statsKeyed(df, "k", Seq("i"), "v", alpha = 0.4).collect()
    // grn is the in-group position: equals the order col here by design
    collected.foreach(r => assert(r.getLong(2) == r.getInt(1).toLong, s"grn ${r}"))
    val got = collected
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(got.size == 75)
    for (k <- Seq("a", "b", "c")) {
      val series = rows.filter(_._1 == k).sortBy(_._2)
        .map(t => Option(t._3).map(_.doubleValue))
      val exp = reference(series, 0.4)
      series.indices.foreach { i =>
        close(got((k, i))._1, exp(i)._1, s"key=$k mean i=$i")
        close(got((k, i))._2, exp(i)._2, s"key=$k var i=$i")
      }
    }
  }

  test("keyed ewm: a hot key spanning several range partitions matches the direct definition") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val rnd = new scala.util.Random(11)
      val rows = for ((k, n) <- Seq("c" -> 30, "h" -> 400); i <- 0 until n) yield
        (k, i, if (rnd.nextDouble() < 0.1) null else Double.box(math.floor(rnd.nextDouble() * 10)))
      val df = rnd.shuffle(rows).toDF("k", "i", "v").repartition(3)
      val span = PrefixScan.arrange(df, Seq("k"), Seq(org.apache.spark.sql.functions.col("i")))
        .rdd.mapPartitions(it => Iterator.single(it.exists(_.getString(0) == "h")))
        .collect().count(identity)
      assert(span >= 3, s"hot key spans only $span partitions")
      val got = Ewm.statsKeyed(df, "k", Seq("i"), "v", alpha = 0.3).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]), Option(r.get(4)).map(_.asInstanceOf[Double]))))
        .toMap
      assert(got.size == rows.size)
      for (k <- Seq("c", "h")) {
        val series = rows.filter(_._1 == k).sortBy(_._2).map(t => Option(t._3).map(_.doubleValue))
        val exp = reference(series, 0.3)
        series.indices.foreach { i =>
          val (grn, m, v) = got((k, i))
          assert(grn == i, s"key=$k grn at i=$i")
          close(m, exp(i)._1, s"key=$k mean i=$i")
          close(v, exp(i)._2, s"key=$k var i=$i")
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("leading nulls emit null mean until the first observation") {
    val got = run(Seq(None, None, Some(4.0), None, Some(2.0)), 0.5, 2)
    assert(got(0)._1.isEmpty && got(1)._1.isEmpty)
    close(got(2)._1, Some(4.0), "first obs")
    // null row carries the estimate (ignore_na=False decay)
    close(got(3)._1, Some(4.0), "carried")
    // t=4: weights q^2 (for x=4), 1 (for x=2); mean=(4*0.25+2)/(1.25)
    close(got(4)._1, Some((4.0 * 0.25 + 2.0) / 1.25), "after gap")
  }

  // ---- full parameter surface (adjust=False, ignoreNa=True, com/span/
  // halflife), each vs the direct per-row weight definition ----

  /** Generalized direct definition: pandas weights under any
    * (adjust, ignoreNa) combination. Decay distance d(i,t) counts rows
    * (ignoreNa=false) or observations strictly after i (ignoreNa=true);
    * adjust=false keeps the first observation's weight at q^d and scales
    * every later one by alpha.
    */
  private def referenceP(xs: Seq[Option[Double]], p: EwmParams): Seq[(Option[Double], Option[Double])] = {
    val q = 1.0 - p.alpha
    val obsIdx = xs.indices.filter(xs(_).isDefined)
    xs.indices.map { t =>
      val upto = obsIdx.filter(_ <= t)
      if (upto.isEmpty) (None, None)
      else {
        val terms = upto.map { i =>
          val d =
            if (p.ignoreNa) upto.count(j => j > i).toDouble
            else (t - i).toDouble
          val base = math.pow(q, d)
          val wt =
            if (p.adjust) base
            else if (i == upto.head) base
            else p.alpha * base
          (xs(i).get, wt)
        }
        val w = terms.map(_._2).sum
        val w2 = terms.map(x => x._2 * x._2).sum
        val m = terms.map(x => x._1 * x._2).sum / w
        val denom = w * w - w2
        val v = if (denom > 0) {
          val biased = terms.map(x => x._1 * x._1 * x._2).sum / w - m * m
          Some(math.max(0.0, biased * w * w / denom))
        } else None
        (Some(m), v)
      }
    }
  }

  private def runP(xs: Seq[Option[Double]], p: EwmParams, parts: Int): Seq[(Option[Double], Option[Double])] = {
    val df = xs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(Double.box).orNull) }
      .toDF("k", "v")
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k")
    Ewm.statsIndexed(df, "v", p).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]),
                 Option(r.get(2)).map(_.asInstanceOf[Double])))
      .sortBy(_._1).map(t => (t._2, t._3)).toSeq
  }

  test("adjust=False matches the recurrence y=(1-a)y+ax under any partitioning") {
    // pandas: ewm(alpha=0.5, adjust=False).mean() of [1,2,3] = [1, 1.5, 2.25]
    val got = runP(Seq(Some(1.0), Some(2.0), Some(3.0)), EwmParams(0.5, adjust = false), 2)
    close(got(0)._1, Some(1.0), "m0")
    close(got(1)._1, Some(1.5), "m1")
    close(got(2)._1, Some(2.25), "m2")
    val rnd = new scala.util.Random(11)
    val xs = Seq.tabulate(60)(_ =>
      if (rnd.nextDouble() < 0.2) None else Some(math.floor(rnd.nextDouble() * 20) - 5))
    for (parts <- Seq(1, 4, 9); alpha <- Seq(0.3, 0.5)) {
      val p = EwmParams(alpha, adjust = false)
      val exp = referenceP(xs, p)
      val gp = runP(xs, p, parts)
      xs.indices.foreach { t =>
        close(gp(t)._1, exp(t)._1, s"adjF a=$alpha parts=$parts mean t=$t")
        close(gp(t)._2, exp(t)._2, s"adjF a=$alpha parts=$parts var t=$t")
      }
    }
  }

  test("ignoreNa=True skips nulls entirely (both adjust modes, any partitioning)") {
    val rnd = new scala.util.Random(23)
    val xs = Seq.tabulate(60)(_ =>
      if (rnd.nextDouble() < 0.3) None else Some(math.floor(rnd.nextDouble() * 12) - 3))
    for (adjust <- Seq(true, false); parts <- Seq(1, 5)) {
      val p = EwmParams(0.4, adjust = adjust, ignoreNa = true)
      val exp = referenceP(xs, p)
      val gp = runP(xs, p, parts)
      xs.indices.foreach { t =>
        close(gp(t)._1, exp(t)._1, s"igNa adj=$adjust parts=$parts mean t=$t")
        close(gp(t)._2, exp(t)._2, s"igNa adj=$adjust parts=$parts var t=$t")
      }
    }
    // hand case: [4, null, 2] with ignoreNa=true — the null does NOT decay:
    // mean_2 = (4q + 2)/(q + 1) with q=0.5 -> 8/3... adjust=True
    val got = runP(Seq(Some(4.0), None, Some(2.0)), EwmParams(0.5, ignoreNa = true), 1)
    close(got(2)._1, Some((4.0 * 0.5 + 2.0) / 1.5), "ignoreNa hand")
  }

  test("com/span/halflife are exact alpha transforms") {
    assert(EwmParams.com(1.0).alpha == 0.5)
    assert(EwmParams.span(3.0).alpha == 0.5)
    assert(math.abs(EwmParams.halflife(1.0).alpha - 0.5) < 1e-15)
    assert(math.abs(EwmParams.com(4.0).alpha - 0.2) < 1e-15)
    assert(math.abs(EwmParams.span(9.0).alpha - 0.2) < 1e-15)
    intercept[IllegalArgumentException](EwmParams.com(-0.1))
    intercept[IllegalArgumentException](EwmParams.span(0.5))
    intercept[IllegalArgumentException](EwmParams.halflife(0.0))
    // halflife semantic check: after exactly h observations the weight
    // halves: q^h = exp(-ln2) = 1/2
    val a = EwmParams.halflife(3.0).alpha
    assert(math.abs(math.pow(1.0 - a, 3.0) - 0.5) < 1e-12)
  }

  test("keyed ewm: null keys dropped, null order values sort first without NPE") {
    val df = Seq(
      ("a", Integer.valueOf(2), Double.box(5.0)),
      ("a", null.asInstanceOf[Integer], Double.box(1.0)), // null order -> first
      (null.asInstanceOf[String], Integer.valueOf(0), Double.box(9.0)), // dropped
      ("a", Integer.valueOf(1), Double.box(3.0))
    ).toDF("k", "i", "v")
    val got = Ewm.statsKeyed(df, "k", Seq("i"), "v", EwmParams(0.5))
      .collect().sortBy(_.getLong(2))
    assert(got.length == 3, "null key row must be dropped")
    // order: null-i row first (x=1), then i=1 (x=3), then i=2 (x=5)
    assert(got(0).getDouble(3) == 1.0)
    assert(got(1).getDouble(3) == (1.0 * 0.5 + 3.0) / 1.5)
  }

  test("times-based halflife: irregular decay matches the direct definition under any partitioning") {
    val rnd = new scala.util.Random(77)
    // strictly increasing irregular seconds; ~15% nulls
    var t = 0.0
    val rows = Seq.tabulate(60) { i =>
      t += 1.0 + math.floor(rnd.nextDouble() * 600)
      val v = if (rnd.nextDouble() < 0.15) None else Some(math.floor(rnd.nextDouble() * 20) - 5)
      (i.toLong, t, v)
    }
    val h = 120.0
    def reference(upTo: Int): Option[Double] = {
      val obs = rows.take(upTo + 1).collect { case (_, ts, Some(v)) => (ts, v) }
      if (obs.isEmpty) None
      else {
        val tNow = rows(upTo)._2
        val ws = obs.map { case (ts, _) => math.pow(0.5, (tNow - ts) / h) }
        Some(obs.zip(ws).map { case ((_, v), w) => v * w }.sum / ws.sum)
      }
    }
    for (parts <- Seq(1, 4, 9)) {
      val df = rows.map { case (k, ts, v) => (k, ts, v.map(Double.box).orNull) }
        .toDF("k", "ts", "v")
        .repartitionByRange(parts, org.apache.spark.sql.functions.col("k"))
        .sortWithinPartitions("k")
      val got = Ewm.statsIndexedTimes(df, "v", "ts", h).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      rows.indices.foreach { i =>
        (got(i.toLong), reference(i)) match {
          case (None, None) =>
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) < 1e-9, s"parts=$parts t=$i: $a vs $b")
          case other => fail(s"parts=$parts t=$i: $other")
        }
      }
    }
  }

  test("keyed ewm honors adjust=False") {
    val df = Seq(("g", 0, 1.0), ("g", 1, 2.0), ("g", 2, 3.0)).toDF("k", "i", "v")
    val got = Ewm.statsKeyed(df, "k", Seq("i"), "v", EwmParams(0.5, adjust = false))
      .collect().sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
    assert(got == Seq(1.0, 1.5, 2.25))
  }
}
