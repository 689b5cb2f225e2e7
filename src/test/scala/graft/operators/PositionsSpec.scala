package graft.operators

import graft.SparkTestBase
import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

object PositionsSpec {
  private val evals = new ConcurrentHashMap[String, AtomicInteger]()

  /** How many times the split named `key` has been computed, this one included. */
  def evaluation(key: String): Int =
    evals.computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
}

/** [[Positions]]: `locate` agrees with a linear search whatever the empty
  * splits, `gather` returns every wanted position with its multiplicity,
  * `ranked` numbers every row, `pack` equals a driver-side packing, and
  * an input that changes between the count and the second read fails
  * instead of returning a short or shifted result.
  */
class PositionsSpec extends SparkTestBase {

  /** An RDD of `sizes.length` splits; split p holds `sizes(p)` rows
    * `(p, i)`.
    */
  private def splits(sizes: Seq[Int]): RDD[(Int, Int)] =
    spark.sparkContext.parallelize(sizes.indices, sizes.length)
      .mapPartitionsWithIndex((p, _) => Iterator.range(0, sizes(p)).map(i => (p, i)))

  /** Layouts with empty splits at the head, in the middle and at the tail. */
  private val layouts = Seq(
    Seq(0, 0, 3, 0, 5, 1, 0, 0, 4, 0),
    Seq(7),
    Seq(0, 6, 0),
    Seq(1, 1, 1, 0, 1),
    Seq(2, 0, 0, 0, 0, 9, 0, 0, 3))

  private def rows(sizes: Seq[Int]): Seq[(Int, Int)] =
    sizes.indices.flatMap(p => (0 until sizes(p)).map(i => (p, i)))

  test("starts counts each split; locate equals a linear search for every position") {
    for (sizes <- layouts) {
      val starts = Positions.starts(splits(sizes))
      assert(starts.toSeq == sizes.scanLeft(0L)(_ + _), s"starts of $sizes")
      for (g <- 0L until starts.last) {
        val linear = sizes.indices.filter(p => starts(p) <= g && g < starts(p + 1))
        assert(linear.size == 1 && Positions.locate(starts, g) == linear.head,
          s"layout $sizes, g=$g: locate ${Positions.locate(starts, g)}, linear $linear")
      }
    }
  }

  test("gather returns each wanted position with its multiplicity, across empty splits") {
    for (sizes <- layouts) {
      val all = rows(sizes)
      val rdd = splits(sizes)
      val starts = Positions.starts(rdd)
      // every third position and the last one, with 1..4 copies
      val wanted = all.indices.filter(g => g % 3 == 0 || g == all.size - 1)
        .map(g => (g.toLong, g % 4 + 1))
      val got = Positions.gather(rdd, starts, wanted)(identity).collect().toSeq
      val want = wanted.sortBy(_._1).flatMap { case (g, c) => Seq.fill(c)((g, all(g.toInt))) }
      assert(got == want, s"layout $sizes")
    }
  }

  /** A 4-split RDD whose split 2 has `first` rows on its first evaluation
    * and `later` rows on every later one.
    */
  private def drifting(key: String, first: Int, later: Int): RDD[Double] =
    spark.sparkContext.parallelize(0 until 4, 4).mapPartitionsWithIndex { (p, _) =>
      val n = if (p != 2) 3 else if (PositionsSpec.evaluation(key) == 1) first else later
      Iterator.range(0, n).map(_.toDouble)
    }

  private def assertDrift(what: String)(run: => Any): Unit = {
    val e = intercept[SparkException](run)
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalStateException]), s"$what: $e")
  }

  test("a split whose row count changes after the count fails gather and pack") {
    val cases = Seq(
      ("grows, wanted in split", 3, 4, Seq(7L)),
      ("shrinks, wanted in split", 3, 1, Seq(8L)),
      ("grows, wanted after it", 3, 4, Seq(10L)),
      ("shrinks, nothing wanted of it", 3, 2, Seq(0L)))
    for (((what, first, later, wanted), i) <- cases.zipWithIndex) {
      val rdd = drifting(s"gather-$i", first, later)
      val starts = Positions.starts(rdd)
      assertDrift(what)(Positions.gather(rdd, starts, wanted.map((_, 1)))(identity).collect())
    }
    val rdd = drifting("pack", 3, 5)
    val starts = Positions.starts(rdd)
    assertDrift("pack")(Positions.pack(rdd, starts, 1, 2)((v, _) => v).collect())
  }

  test("ranked numbers every row in split order across empty splits; a drifting split fails it") {
    for (sizes <- layouts) {
      val rdd = splits(sizes)
      val got = Positions.ranked(rdd, Positions.starts(rdd)).collect().toSeq
      assert(got == rows(sizes).zipWithIndex.map { case (r, g) => (g.toLong, r) }, s"layout $sizes")
    }
    val rdd = drifting("ranked", 3, 2)
    val starts = Positions.starts(rdd)
    assertDrift("ranked")(Positions.ranked(rdd, starts).collect())
  }

  test("pack equals a driver-side packing when segments straddle splits and blocks") {
    for (sizes <- layouts; width <- Seq(1, 3); chunk <- Seq(1, 4, 5)) {
      val all = rows(sizes)
      val rdd = splits(sizes)
      val starts = Positions.starts(rdd)
      // row g's column j holds 10·g + j
      val got = Positions.pack(rdd, starts, width, chunk) { case ((p, i), j) =>
        10.0 * (starts(p) + i) + j }.collect().map { case (b, a) => b -> a.toSeq }.toMap
      val want = all.indices.grouped(chunk).zipWithIndex.map { case (gs, b) =>
        b -> gs.flatMap(g => (0 until width).map(10.0 * g + _)) }.toMap
      assert(got == want, s"layout $sizes, width $width, chunk $chunk")
    }
  }
}
