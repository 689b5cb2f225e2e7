package graft.operators

import graft.SparkTestBase
import graft.api.GBag
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Bag parity (§2.11), linalg (§2.11), and the streaming extension. */
class BagLinalgStreamSpec extends SparkTestBase {

  import spark.implicits._

  test("bag: map/filter/fold/frequencies/topk/distinct/foldby") {
    val b = GBag.fromSeq(spark, Seq(1, 2, 2, 3, 3, 3, 4), npartitions = 3)
    assert(b.map(_ * 2).filter(_ > 4).compute().sorted.toSeq == Seq(6, 6, 6, 8))
    assert(b.fold(_ + _) == 18)
    assert(b.frequencies.collect().toMap == Map(1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 1L))
    assert(b.topk(2) == Seq(4, 3))
    assert(b.distinct().compute().sorted.toSeq == Seq(1, 2, 3, 4))
    val folded = b.foldby(identity[Int] _, 0)((acc, x) => acc + x)(_ + _).collect().toMap
    assert(folded == Map(1 -> 1, 2 -> 4, 3 -> 9, 4 -> 4))
  }

  test("bag: take/remove/flatten/random_sample and the scalar reduction tier") {
    val b = GBag.fromSeq(spark, Seq(1, 2, 2, 3, 3, 3, 4), npartitions = 3)
    assert(b.take(3).length == 3)
    assert(b.remove(_ % 2 == 0).compute().sorted.toSeq == Seq(1, 3, 3, 3))
    assert(b.count() == 7L)
    assert(b.sum() == 18)
    assert(b.min() == 1 && b.max() == 4)
    assert(b.any(_ > 3) && !b.any(_ > 4))
    assert(b.all(_ >= 1) && !b.all(_ > 1))
    assert(b.mean() == 18.0 / 7)
    val xs = Seq(1, 2, 2, 3, 3, 3, 4).map(_.toDouble)
    val m = xs.sum / xs.length
    val popVar = xs.map(x => (x - m) * (x - m)).sum / xs.length
    assert(math.abs(b.variance() - popVar) < 1e-12)
    assert(math.abs(b.std() - math.sqrt(popVar)) < 1e-12)
    assert(math.abs(b.variance(ddof = 1) - popVar * 7 / 6) < 1e-12)
    // flatten: one nesting level
    val nested = GBag.fromSeq(spark, Seq(Seq(1, 2), Seq(3), Seq.empty[Int]), 2)
    assert(nested.flatten[Int].compute().sorted.toSeq == Seq(1, 2, 3))
    // random_sample: deterministic for (seed, layout); prob bounds enforced
    val big = GBag.fromSeq(spark, 1 to 1000, npartitions = 4)
    val s1 = big.randomSample(0.3, seed = 7).compute().toSeq
    val s2 = big.randomSample(0.3, seed = 7).compute().toSeq
    assert(s1 == s2, "same seed + layout must reproduce")
    assert(s1.length > 200 && s1.length < 400, s"~30% expected, got ${s1.length}")
    assertThrows[IllegalArgumentException](big.randomSample(1.5, 1))
  }

  test("bag: random.sample — exact k, unique, deterministic, any partitioning") {
    val xs = (1 to 500).toSeq
    for (np <- Seq(1, 3, 7)) {
      val b = GBag.fromSeq(spark, xs, npartitions = np)
      val s1 = b.sample(40, seed = 11).compute().toSeq
      assert(s1.length == 40, s"np=$np exact k")
      assert(s1.distinct.length == 40, s"np=$np without replacement")
      assert(s1.forall(xs.contains), s"np=$np subset of population")
      assert(b.sample(40, seed = 11).compute().toSeq.sorted == s1.sorted,
        s"np=$np same seed reproduces")
    }
    val b = GBag.fromSeq(spark, xs, npartitions = 4)
    assert(b.sample(40, seed = 1).compute().toSet != b.sample(40, seed = 2).compute().toSet,
      "different seeds draw different subsets")
    // k == n returns the whole population; k > n rejects (reference
    // _finalize_sample raises "Sample larger than population")
    assert(b.sample(500, seed = 3).compute().sorted.toSeq == xs)
    assertThrows[IllegalArgumentException](b.sample(501, seed = 3).compute())
    assert(b.sample(0, seed = 4).compute().isEmpty)
    // distribution sanity: mean of a 150-of-3000 sample near population mean
    val big = GBag.fromSeq(spark, (1 to 3000).map(_.toDouble), npartitions = 6)
    val m = big.sample(150, seed = 99).compute().sum / 150.0
    assert(math.abs(m - 1500.5) < 250, s"sample mean $m implausible for uniform draw")
  }

  test("bag: random.choices — exact k WITH replacement, deterministic") {
    val xs = (1 to 50).toSeq
    for (np <- Seq(1, 3, 7)) {
      val b = GBag.fromSeq(spark, xs, npartitions = np)
      val c1 = b.choices(30, seed = 5).compute().toSeq
      assert(c1.length == 30, s"np=$np exact k")
      assert(c1.forall(xs.contains), s"np=$np values from population")
      assert(b.choices(30, seed = 5).compute().sorted.toSeq == c1.sorted,
        s"np=$np same seed reproduces")
    }
    // k > n is legal with replacement — pigeonhole forces duplicates
    val tiny = GBag.fromSeq(spark, Seq(1, 2, 3), npartitions = 2)
    val c = tiny.choices(10, seed = 8).compute().toSeq
    assert(c.length == 10 && c.distinct.length < c.length)
    assertThrows[IllegalArgumentException](tiny.choices(-1, 0).compute())
  }

  test("bag: sample and choices leave nothing persisted once the returned bag is released") {
    val sc = spark.sparkContext
    val b = GBag.fromSeq(spark, (1 to 200).toSeq, npartitions = 3)
    val draws = Seq[(String, GBag[Int] => GBag[Int])](
      "sample" -> (_.sample(20, seed = 7)), "choices" -> (_.choices(20, seed = 7)))
    for ((name, draw) <- draws) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val got = draw(b)
      assert(got.compute().length == 20, name)
      got.ds.unpersist(true)
      assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        s"$name left persisted: ${sc.getPersistentRDDs.keySet.toSet -- before}")
    }
  }

  test("bag: accumulate prefix scan matches driver scan under any partitioning") {
    val xs = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5)
    val want = xs.scanLeft(0)(_ + _).tail // running sums, no initial
    for (np <- Seq(1, 3, 7)) {
      val b = GBag[Int](spark.createDataset(xs).repartitionByRange(np, col("value")))
      // repartitionByRange reorders; scan the ACTUAL partition order
      val got = b.accumulate(_ + _).compute().toSeq
      val inOrder = b.compute().toSeq
      assert(got == inOrder.scanLeft(0)(_ + _).tail, s"np=$np")
    }
    // coalesce(1) pins the original order — exact driver parity + initial
    val b1 = GBag[Int](spark.createDataset(xs).coalesce(1))
    assert(b1.accumulate(_ + _).compute().toSeq == want)
    assert(b1.accumulate(_ + _, initial = Some(100)).compute().toSeq ==
      xs.scanLeft(100)(_ + _))
    // non-commutative (but associative) binop: string concat
    val bs = GBag[String](spark.createDataset(Seq("a", "b", "c", "d")).coalesce(1))
    assert(bs.accumulate(_ + _).compute().toSeq == Seq("a", "ab", "abc", "abcd"))
  }

  test("bag: groupby/zipBag/unzip/range/concat surface") {
    val b = GBag.fromSeq(spark, Seq(1, 2, 3, 4, 5, 6), npartitions = 3)
    val grouped = b.groupby(_ % 2).collect().toMap
    assert(grouped(0).sorted == Seq(2, 4, 6) && grouped(1).sorted == Seq(1, 3, 5))
    // zip requires co-partitioned equal-length sides: derive both from one bag
    val l = b.map(_ * 10)
    val z = b.zipBag(l).compute().toMap
    assert(z == Map(1 -> 10, 2 -> 20, 3 -> 30, 4 -> 40, 5 -> 50, 6 -> 60))
    val pairs = GBag.fromSeq(spark, Seq((1, "a"), (2, "b")), 2)
    val (ks, vs) = pairs.unzip[Int, String]
    assert(ks.compute().sorted.toSeq == Seq(1, 2) && vs.compute().sorted.toSeq == Seq("a", "b"))
    assert(GBag.range(spark, 5, 2).compute().sorted.toSeq == (0L until 5L))
    val c = GBag.concat(Seq(b, GBag.fromSeq(spark, Seq(7, 8), 1)))
    assert(c.compute().sorted.toSeq == (1 to 8))
  }

  test("bag: joinBy and product") {
    val l = GBag.fromSeq(spark, Seq((1, "a"), (2, "b")), 2)
    val r = GBag.fromSeq(spark, Seq((1, "X"), (3, "Y")), 2)
    val joined = l.joinBy(r, (t: (Int, String)) => t._1, (u: (Int, String)) => u._1)
      .collect().toSeq
    assert(joined == Seq(((1, "a"), (1, "X"))))
    assert(l.product(r).collect().length == 4)
  }

  test("linalg: tsqr R, gramian, SVD on a known matrix") {
    // columns of A: [1,0,0,0] and [1,1,1,1] — gram = [[1,1],[1,4]]
    val df = Seq(
      Seq(1.0f, 1.0f), Seq(0.0f, 1.0f), Seq(0.0f, 1.0f), Seq(0.0f, 1.0f)
    ).toDF("vec")
    val gram = Linalg.gramian(df, "vec")
    assert(gram(0, 0) == 1.0 && gram(0, 1) == 1.0 && gram(1, 1) == 4.0)

    // R'R must equal the gramian (QR validity), up to fp noise
    val r = Linalg.tsqrR(df, "vec")
    val rtr = Array.tabulate(2, 2) { (i, j) =>
      (0 to 1).map(k => r(k, i) * r(k, j)).sum
    }
    assert(math.abs(rtr(0)(0) - 1.0) < 1e-9 && math.abs(rtr(0)(1) - 1.0) < 1e-9 &&
      math.abs(rtr(1)(1) - 4.0) < 1e-9)

    val sv = Linalg.singularValues(df, "vec", 2)
    // singular values are sqrt of eigenvalues of gram: tr=5, det=3
    val disc = math.sqrt(25.0 - 4 * 3.0)
    val expected = Seq(math.sqrt((5 + disc) / 2), math.sqrt((5 - disc) / 2))
    assert(sv.zip(expected).forall { case (a, b) => math.abs(a - b) < 1e-6 })
  }

  test("svdCompressed recovers the spectrum of a low-rank matrix") {
    // rank-2 rows: r_i = a_i·u + b_i·w with deterministic a, b — the
    // randomized range finder with l ≥ rank is exact up to fp noise
    val u = Array(1.0, 0.5, -0.25, 2.0, 0.0, 1.5)
    val w = Array(0.0, 1.0, 1.0, -0.5, 2.0, 0.25)
    val rows = (0 until 40).map { i =>
      val a = math.sin(i * 0.7) + 1.3; val b = math.cos(i * 1.1)
      Tuple1((0 until 6).map(j => (a * u(j) + b * w(j)).toFloat))
    }
    val df = rows.toDF("vec")
    val exact = Linalg.singularValues(df, "vec", 2)
    val approx = Linalg.svdCompressed(df, "vec", k = 2, oversample = 4)
    assert(approx.length == 2)
    assert(exact.zip(approx).forall { case (e, a) => math.abs(e - a) < 1e-6 * e })
    // remaining spectrum is float32-rounding noise: k beyond the rank
    // reports values ~1e-7 relative to the top (the vec column is Float)
    val tail = Linalg.svdCompressed(df, "vec", k = 4, oversample = 4)
    assert(tail(2) < 1e-5 * exact(0) && tail(3) < 1e-5 * exact(0))
    // power iterations only sharpen — still exact on exact-rank input
    val pi = Linalg.svdCompressed(df, "vec", k = 2, oversample = 4, powerIters = 2)
    assert(exact.zip(pi).forall { case (e, a) => math.abs(e - a) < 1e-6 * e })
  }

  test("choleskyGram and solveGram work against the known gramian") {
    // gram = [[1,1],[1,4]] (same fixture as the tsqr test): L = [[1,0],[1,√3]]
    val df = Seq(
      Seq(1.0f, 1.0f), Seq(0.0f, 1.0f), Seq(0.0f, 1.0f), Seq(0.0f, 1.0f)
    ).toDF("vec")
    val lMat = Linalg.choleskyGram(df, "vec")
    assert(math.abs(lMat(0, 0) - 1.0) < 1e-12 && math.abs(lMat(1, 0) - 1.0) < 1e-12)
    assert(math.abs(lMat(1, 1) - math.sqrt(3.0)) < 1e-12 && lMat(0, 1) == 0.0)
    // solve [[1,1],[1,4]] x = [3, 9] → x = [1, 2]
    val x = Linalg.solveGram(df, "vec", Array(3.0, 9.0))
    assert(math.abs(x(0) - 1.0) < 1e-12 && math.abs(x(1) - 2.0) < 1e-12)
  }

  test("svdCompressed edge cases: zero matrix, huge spectral spread") {
    val zero = (0 until 10).map(_ => Tuple1(Seq(0.0f, 0.0f, 0.0f))).toDF("vec")
    assert(Linalg.svdCompressed(zero, "vec", k = 2).toSeq == Seq(0.0, 0.0))
    // σ1/σ2 = 1e6: power iterations must re-orthonormalize or σ2 drowns
    val v1 = Array(1.0, 0.0, 0.0, 0.0)
    val v2 = Array(0.0, 1.0, 0.0, 0.0)
    val rows = (0 until 50).map { i =>
      val a = math.sin(i * 0.7); val b = math.cos(i * 1.3)
      Tuple1((0 until 4).map(j => (a * 1e6 * v1(j) + b * v2(j)).toFloat))
    }
    val df = rows.toDF("vec")
    val exact = Linalg.singularValues(df, "vec", 2)
    val approx = Linalg.svdCompressed(df, "vec", k = 2, oversample = 4, powerIters = 2)
    assert(exact.zip(approx).forall { case (e, a) => math.abs(e - a) <= 1e-4 * e },
      s"exact=${exact.toSeq} approx=${approx.toSeq}")
  }

  test("lstsq: null rows dropped consistently, singular design, empty input") {
    // a null y and a null element must not skew the normal equations —
    // result equals the fit over the clean rows only
    val cleanRows = (0 until 50).map { i =>
      val x1 = math.sin(i * 0.9) * 5; val x2 = (i % 11).toDouble
      (Seq(x1, x2), 1.0 + 2.0 * x1 + 0.5 * x2)
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("x", ArrayType(DoubleType, containsNull = true)),
      StructField("y", DoubleType)))
    val dirty = cleanRows.map { case (v, y) => Row(v, y) } ++ Seq(
      Row(Seq(1.0, 2.0), null),
      Row(Seq[Any](null, 2.0), 9.0),
      Row(null, 9.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(dirty, 3), schema)
    val beta = Linalg.lstsq(df, "x", "y")
    assert(math.abs(beta(0) - 1.0) < 1e-9 && math.abs(beta(1) - 2.0) < 1e-9 &&
      math.abs(beta(2) - 0.5) < 1e-9)
    // constant feature + intercept → singular AtA → min-norm pinv solution,
    // not an exception; fitted values must still reproduce y
    val sing = (0 until 20).map { i =>
      val x1 = math.sin(i * 1.1); (Seq(x1, 1.0), 3.0 * x1 + 2.0) }
      .toDF("x", "y")
    val bs = Linalg.lstsq(sing, "x", "y")
    assert(math.abs(bs(1) - 3.0) < 1e-8)          // slope is identified
    assert(math.abs(bs(0) + bs(2) - 2.0) < 1e-8)  // intercept split min-norm
    intercept[IllegalArgumentException] {
      Linalg.lstsq(Seq.empty[(Seq[Double], Double)].toDF("x", "y"), "x", "y")
    }
  }

  test("lstsq recovers exact coefficients of a noiseless linear model") {
    val rows = (0 until 100).map { i =>
      val x1 = math.sin(i * 0.3) * 10; val x2 = (i % 7).toDouble
      (Seq(x1, x2), 2.0 + 3.0 * x1 - 1.5 * x2)
    }
    val df = rows.toDF("x", "y")
    val beta = Linalg.lstsq(df, "x", "y", intercept = true)
    assert(math.abs(beta(0) - 2.0) < 1e-9)
    assert(math.abs(beta(1) - 3.0) < 1e-9)
    assert(math.abs(beta(2) + 1.5) < 1e-9)
    // no-intercept variant solves the 2×2 system only
    val b2 = Linalg.lstsq(df, "x", "y", intercept = false)
    assert(b2.length == 2)
  }

  test("lstsq wide-feature path (treeAggregate) agrees with the model too") {
    val p = 30 // > 24 → exercises the outer-product treeAggregate path
    val coef = (0 until p).map(j => (j % 5) - 2.0)
    // distinct frequencies → linearly independent features over 200 rows
    // (equal-frequency phase shifts would make the design matrix rank 2)
    val rows = (0 until 200).map { i =>
      val x = (0 until p).map(j => math.sin(i * 0.1 * (j + 1)))
      (x, x.zip(coef).map { case (a, b) => a * b }.sum + 4.0)
    }
    val beta = Linalg.lstsq(rows.toDF("x", "y"), "x", "y", intercept = true)
    assert(math.abs(beta(0) - 4.0) < 1e-6)
    coef.zipWithIndex.foreach { case (c, j) =>
      assert(math.abs(beta(j + 1) - c) < 1e-6, s"coef $j: ${beta(j + 1)} vs $c") }
  }

  test("resample aggDense emits empty buckets between min and max") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 02:10:00"), 2.0)
    ).toDF("ts", "value")
    val out = Resample.aggDense(df, "ts", 3600,
      Seq("n" -> count(lit(1)), "s" -> sum(col("value")))).orderBy("ts").collect()
    assert(out.length == 3) // 00:00, 01:00 (empty), 02:00
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(0).getLong(1) == 1 && out(2).getDouble(2) == 2.0)
  }

  test("streaming: stream-static enrichment join broadcasts the dimension") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Int, Double)]
    val dim = Seq((1, "gold"), (2, "silver")).toDF("uid", "tier")
    val out = StreamOps.enrich(mem.toDF().toDF("uid", "v"), dim, Seq("uid"))
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData((1, 10.0), (2, 20.0), (3, 30.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT uid, v, tier FROM enriched ORDER BY uid").collect()
    q.stop()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1),
      if (r.isNullAt(2)) null else r.getString(2))).toSeq ==
      Seq((1, 10.0, "gold"), (2, 20.0, "silver"), (3, 30.0, null)))
  }

  test("streaming: tumbling windowedAgg over a memory stream") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val in = mem.toDF().toDF("ts", "value")
    val out = StreamOps.windowedAgg(in, "ts", "1 hour", "0 seconds")
    val q = out.writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((t(0, 10), 1.0), (t(0, 50), 2.0), (t(1, 5), 10.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM win_agg ORDER BY ts").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.0)
    assert(rows(1).getLong(1) == 1 && rows(1).getDouble(2) == 10.0)
  }

  test("streaming: watermark drops data later than the allowed lateness") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val in = mem.toDF().toDF("ts", "value")
    // append mode: a window only emits once the watermark passes its end,
    // and late rows behind the watermark are dropped
    val out = StreamOps.windowedAgg(in, "ts", "1 hour", "30 minutes")
    val q = out.writeStream.format("memory").queryName("win_late")
      .outputMode("append").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((t(0, 10), 1.0), (t(0, 20), 2.0))
    q.processAllAvailable()
    // advance event time far enough to close the 00:00 window (wm = 02:10)
    mem.addData((t(2, 40), 5.0))
    q.processAllAvailable()
    // this row is behind the watermark → must be DROPPED, not re-emitted
    mem.addData((t(0, 40), 100.0))
    q.processAllAvailable()
    mem.addData((t(4, 0), 7.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM win_late ORDER BY ts").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    // 00:00 window emitted with only the on-time rows; late 100.0 absent
    assert(rows.exists { case (ts, n, s) => ts.startsWith("2024-01-01 00:00") && n == 2 && s == 3.0 },
      s"got ${rows.mkString(",")}")
    assert(!rows.exists(_._3 == 103.0) && !rows.exists(_._3 == 100.0))
  }

  test("streaming: file-sink pipeline reads, transforms, writes exactly-once") {
    val base = "/tmp/graft_stream_test"
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val data = Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)).toDF("id", "v")
    data.write.parquet(in)
    val q = StreamOps.fileSinkPipeline(spark, in, data.schema, out, ckpt)(
      _.withColumn("v2", col("v") * 2))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 4.0), (2L, 8.0), (3L, 12.0)))
  }

  test("streaming: sessionize keeps per-key state") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[StreamOps.SessionEvent]
    val out = StreamOps.sessionize(mem.toDS(), gapSeconds = 300)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("update").start()
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(uid: Long, offsetSec: Long, v: Double) =
      StreamOps.SessionEvent(uid, new java.sql.Timestamp(base.getTime + offsetSec * 1000), v)
    mem.addData(ev(1, 0, 1.0), ev(1, 60, 2.0), ev(2, 0, 5.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM sess ORDER BY user_id").collect()
    q.stop()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 3.0), (2L, 1L, 5.0)))
  }
}
