package graft.operators

import graft.SparkTestBase
import graft.operators.PrefixScan.{Carry, Fold, Sequential, Tree}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.reflect.ClassTag

/** [[PrefixScan]]: both carries must hand partition p exactly its
  * exclusive prefix (or suffix) for every partition-count shape (bucket
  * boundaries, single partition, n a perfect square, n prime), the
  * grouped form must be right under both carries, and every kernel form
  * must turn an empty input into an empty result.
  */
class PrefixScanSpec extends SparkTestBase {

  private val carries = Seq(Tree, Sequential)

  /** The seed each partition receives, in partition order, over an RDD
    * whose partition p holds the single row `rows(p)`.
    */
  private def seeds[R: ClassTag, S: ClassTag](rows: Seq[R], carry: Carry, fold: Fold[R, S],
      backward: Boolean = false): Seq[S] =
    PrefixScan(spark.sparkContext.parallelize(rows, rows.size), carry, fold, backward)(
      (s, _) => Iterator.single(s)).collect().toSeq

  private val sum = Fold[Long, Long](_.sum, () => 0L, _ + _)

  private def check(nParts: Int, carry: Carry): Unit = {
    // partition p holds p+1; its exclusive prefix of sums is p(p+1)/2
    val got = seeds((1 to nParts).map(_.toLong), carry, sum)
    assert(got == (0 until nParts).map(p => p.toLong * (p + 1) / 2), s"$carry n=$nParts: $got")
  }

  test("both carries equal the flat fold across partition-count shapes") {
    val shapes = Seq(1, 2, 3, 7, 9, 16, 31, 33)
    for (carry <- carries; n <- shapes) check(n, carry)
    for (n <- shapes) {
      val rows = (1 to n).map(_.toLong)
      assert(seeds(rows, Tree, sum) == seeds(rows, Sequential, sum), s"n=$n")
    }
  }

  test("backward carry lands in the right partitions") {
    val n = 11
    // only partitions 3 and 8 have a non-null boundary value
    val rows: Seq[Any] = (0 until n).map(p => if (p == 3) "x3" else if (p == 8) "x8" else null)
    val lastWins = Fold[Any, Any](_.next(), () => null, (a, b) => if (b != null) b else a)
    for (carry <- carries) {
      val got = seeds(rows, carry, lastWins, backward = true)
      for (p <- 0 until n) {
        val want = if (p < 3) "x3" else if (p < 8) "x8" else null
        assert(got(p) == want, s"$carry pid=$p got ${got(p)} want $want")
      }
    }
  }

  test("non-commutative merge keeps partition order (string concat)") {
    val n = 13
    val rows = (0 until n).map(p => ('a' + p).toChar.toString)
    val concat = Fold[String, String](_.next(), () => "", _ + _)
    for (carry <- carries) {
      for ((s, pid) <- seeds(rows, carry, concat).zipWithIndex)
        assert(s == rows.take(pid).mkString, s"$carry pid=$pid got '$s'")
      for ((s, pid) <- seeds(rows, carry, concat, backward = true).zipWithIndex)
        assert(s == rows.drop(pid + 1).reverse.mkString, s"$carry backward pid=$pid got '$s'")
    }
  }

  test("sequential carry is the driver's left fold, bit for bit") {
    // EWM's composition c·d + s: associative in exact arithmetic only
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(33)((rnd.nextDouble() * 2000 - 1000, 0.5 + rnd.nextDouble() / 2))
    val affine = Fold[(Double, Double), (Double, Double)](_.next(), () => (0.0, 1.0),
      (a, b) => (a._1 * b._2 + b._1, a._2 * b._2))
    val want = rows.scanLeft((0.0, 1.0))(affine.merge).init
    val got = seeds(rows, Sequential, affine)
    def bits(s: Seq[(Double, Double)]) = s.map { case (c, d) =>
      (java.lang.Double.doubleToRawLongBits(c), java.lang.Double.doubleToRawLongBits(d)) }
    assert(bits(got) == bits(want))
  }

  test("every kernel form yields an empty result on an empty input") {
    val sc = spark.sparkContext
    for (carry <- carries; backward <- Seq(false, true))
      assert(PrefixScan(sc.emptyRDD[Long], carry, sum, backward)((_, it) => it).isEmpty(),
        s"$carry backward=$backward")
    assert(PrefixScan.twoWay(sc.emptyRDD[Long], sum, sum)((_, _, it) => it).isEmpty())
    import spark.implicits._
    for (carry <- carries; df <- Seq(Seq.empty[(Long, Long)].toDF("g", "v"),
        spark.createDataFrame(sc.emptyRDD[org.apache.spark.sql.Row],
          Seq.empty[(Long, Long)].toDF("g", "v").schema))) {
      val out = PrefixScan.grouped[Long](df, Seq("g"), Seq(col("v")), df.schema, carry)(
        0L, (s, _) => s + 1, _ + _)(() => (r, _) => r)
      assert(out.count() == 0, s"$carry")
    }
  }

  test("grouped form: both carries give every row its group's running fold") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "12")
    try {
      // "h" is hot and spans most partitions; "a" and "z" pin the edges
      val rows = (0 until 30).map(i => ("a", i.toLong)) ++
        (0 until 600).map(i => ("h", i.toLong)) ++ (0 until 20).map(i => ("z", i.toLong))
      val df = new scala.util.Random(3).shuffle(rows).toDF("g", "v")
      val span = PrefixScan.arrange(df, Seq("g"), Seq(col("v"))).rdd
        .mapPartitions(it => Iterator.single(it.exists(_.getString(0) == "h"))).collect().count(identity)
      assert(span >= 4, s"hot group spans only $span partitions")
      // string concat is associative but not commutative: a seed applied
      // out of order or to the wrong group shows in the string
      val schema = df.schema
      for (carry <- carries) {
        val got = PrefixScan.grouped[String](df, Seq("g"), Seq(col("v")),
            schema.add("s", StringType), carry)("", (s, r) => s + r.getLong(1) + ",", _ + _) { () =>
          val append = new InternalScan.Append(schema, Seq(StringType))
          (r, s) => append(r, UTF8String.fromString(s))
        }.as[(String, Long, String)].collect()
        assert(got.length == rows.size, s"$carry")
        for ((g, v, s) <- got) assert(s == (0L to v).map(_ + ",").mkString, s"$carry g=$g v=$v")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
