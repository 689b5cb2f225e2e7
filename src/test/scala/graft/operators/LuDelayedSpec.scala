package graft.operators

import graft.SparkTestBase
import graft.api.Delayed
import org.apache.spark.sql.functions._

/** Blocked LU (reference `dask/array/linalg.py:978`) and the driver-side
  * Delayed DAG (`delayed.py:414,673`) — the two descopes lifted in round 6.
  */
class LuDelayedSpec extends SparkTestBase {

  /** Deterministic pseudo-random matrix (mix64-based, no RNG state). */
  private def testMatrix(n: Int, seed: Long): Array[Double] = {
    import graft.functions.Hashing.mix64
    Array.tabulate(n * n) { idx =>
      val h = mix64(seed ^ idx.toLong)
      ((h >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 10.0
    }
  }

  /** Dense col-major reconstruction of P·L·U from a BlockLU. */
  private def reconstruct(r: Linalg.BlockLU): Array[Double] = {
    val b = r.blockSize; val n = r.nBlocks * b
    def toDense(df: org.apache.spark.sql.DataFrame): Array[Double] = {
      val out = new Array[Double](n * n)
      df.collect().foreach { row =>
        val bi = row.getInt(0); val bj = row.getInt(1)
        val d = row.getSeq[Double](2)
        for (c <- 0 until b; rr <- 0 until b)
          out((bj * b + c) * n + (bi * b + rr)) = d(c * b + rr)
      }
      out
    }
    val l = toDense(r.l); val u = toDense(r.u)
    // lu = L·U
    val luD = new Array[Double](n * n)
    for (j <- 0 until n; m <- 0 until n) {
      val umj = u(j * n + m)
      if (umj != 0.0) {
        for (rr <- 0 until n) luD(j * n + rr) += l(m * n + rr) * umj
      }
    }
    // apply block-diagonal P: out[blockRow k, pos σ(t)] = lu[blockRow k, pos t]
    // since (Pᵀx)[t] = x[σ(t)]  ⇔  (P·y)[σ(t)] = y[t]
    val out = new Array[Double](n * n)
    for (k <- 0 until r.nBlocks; c <- 0 until n; t <- 0 until b)
      out(c * n + k * b + r.perms(k)(t)) = luD(c * n + k * b + t)
    out
  }

  private def maxAbsDiff(a: Array[Double], bArr: Array[Double]): Double =
    a.indices.map(i => math.abs(a(i) - bArr(i))).max

  test("lu: reconstruction P·L·U = A across block sizes, incl. 1-block edge") {
    for ((n, bs) <- Seq((6, 2), (6, 3), (6, 6), (12, 3))) {
      val a = testMatrix(n, seed = 7L * n + bs)
      val blocks = Linalg.denseToBlocks(spark, a, n, bs)
      val r = Linalg.lu(blocks, bs)
      assert(r.nBlocks == n / bs)
      val diff = maxAbsDiff(reconstruct(r), a)
      assert(diff < 1e-9, s"n=$n b=$bs reconstruction diff $diff")
    }
  }

  test("lu: distributed cogroup panel path (panelBroadcastBytes=0) matches broadcast path") {
    // (18, 2) runs 9 rounds, so the 8th round's localCheckpoint is on the path
    for ((n, bs) <- Seq((12, 3), (120, 30), (18, 2))) {
      val a = testMatrix(n, seed = 11L * n + bs)
      val blocks = Linalg.denseToBlocks(spark, a, n, bs)
      // threshold 0 forces EVERY round through the executor-side fan-out
      // + co-partitioned cogroup — the 100 TB path must stay bit-correct
      val r = Linalg.lu(blocks, bs, panelBroadcastBytes = 0L)
      val diff = maxAbsDiff(reconstruct(r), a)
      assert(diff < 1e-8, s"n=$n b=$bs cogroup-path reconstruction diff $diff")
      // both delivery paths run the same update on the same blocks
      val viaBroadcast = Linalg.lu(blocks, bs)
      def cells(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(row => (row.getInt(0), row.getInt(1)) -> row.getSeq[Double](2)).toMap
      assert(r.perms.map(_.toSeq).toSeq == viaBroadcast.perms.map(_.toSeq).toSeq, s"n=$n b=$bs perms")
      assert(cells(r.l) == cells(viaBroadcast.l), s"n=$n b=$bs L differs between paths")
      assert(cells(r.u) == cells(viaBroadcast.u), s"n=$n b=$bs U differs between paths")
    }
  }

  test("lu: structure — L unit-lower within blocks, U upper, valid perms") {
    val n = 8; val bs = 2
    val r = Linalg.lu(Linalg.denseToBlocks(spark, testMatrix(n, 3L), n, bs), bs)
    r.l.collect().foreach { row =>
      val bi = row.getInt(0); val bj = row.getInt(1); val d = row.getSeq[Double](2)
      assert(bi >= bj, "L holds only lower blocks")
      if (bi == bj) for (c <- 0 until bs) {
        assert(d(c * bs + c) == 1.0, "unit diagonal")
        for (rr <- 0 until c) assert(d(c * bs + rr) == 0.0, "strict upper zero in L")
      }
    }
    r.u.collect().foreach { row =>
      val bi = row.getInt(0); val bj = row.getInt(1); val d = row.getSeq[Double](2)
      assert(bi <= bj, "U holds only upper blocks")
      if (bi == bj) for (c <- 0 until bs; rr <- c + 1 until bs)
        assert(d(c * bs + rr) == 0.0, "strict lower zero in U")
    }
    r.perms.foreach(p => assert(p.sorted.toSeq == (0 until bs).toSeq))
  }

  test("lu: local pivoting handles a zero leading pivot") {
    // (0,0) = 0 forces a row swap inside the first diagonal block
    val a = Array(0.0, 2.0, 1.0, 1.0) // col-major [[0,1],[2,1]]
    val padded = testMatrix(4, 11L)
    padded(0) = 0.0
    val r = Linalg.lu(Linalg.denseToBlocks(spark, padded, 4, 2), 2)
    assert(maxAbsDiff(reconstruct(r), padded) < 1e-10)
    val r2 = Linalg.lu(Linalg.denseToBlocks(spark, a, 2, 2), 2)
    assert(maxAbsDiff(reconstruct(r2), a) < 1e-12)
    assert(r2.perms(0).toSeq == Seq(1, 0), "pivot row swapped")
  }

  test("lu: determinant via U diagonal matches a dense driver determinant") {
    // integer matrix → det is exactly representable; breeze is the oracle
    val n = 4
    val a = Array[Double](
      4, 1, 2, 0, // col 0
      1, 5, 0, 2, // col 1
      2, 0, 6, 1, // col 2
      0, 2, 1, 7) // col 3
    val expected = breeze.linalg.det(breeze.linalg.DenseMatrix.create(n, n, a))
    val r = Linalg.lu(Linalg.denseToBlocks(spark, a, n, 2), 2)
    assert(math.abs(r.det() - expected) < 1e-9, s"${r.det()} vs $expected")
  }

  test("lu: 120x120 in 30-blocks — residual stays tiny at depth") {
    val n = 120; val bs = 30
    val a = testMatrix(n, 99L)
    val r = Linalg.lu(Linalg.denseToBlocks(spark, a, n, bs), bs)
    val scale = a.map(math.abs).max
    assert(maxAbsDiff(reconstruct(r), a) / scale < 1e-9)
  }

  test("delayed: laziness, diamond sharing (node runs once), parallel branches") {
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val base = Delayed { runs.incrementAndGet(); 10 }
    val left = base.map(_ + 1)
    val right = base.map(_ * 2)
    val root = Delayed.map2(left, right)(_ + _)
    assert(runs.get() == 0, "nothing runs before compute()")
    assert(root.compute() == 31)
    assert(runs.get() == 1, "diamond base evaluated exactly once")
    // repeated compute re-executes (dask local-scheduler contract)
    assert(root.compute() == 31)
    assert(runs.get() == 2)
  }

  test("delayed: computeAll shares the graph across roots; sequence; errors") {
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val base = Delayed { runs.incrementAndGet(); 5 }
    val a = base.map(_ + 1)
    val b = base.map(_ + 2)
    val Seq(x, y) = Delayed.computeAll(a, b)
    assert((x, y) == (6, 7) && runs.get() == 1, "shared across computeAll roots")
    assert(Delayed.sequence(Seq(Delayed.value(1), Delayed.value(2), Delayed(3)))
      .compute() == Seq(1, 2, 3))
    val boom = Delayed[Int] { throw new IllegalStateException("boom") }
    val ex = intercept[IllegalStateException] { boom.map(_ + 1).compute() }
    assert(ex.getMessage == "boom")
  }

  test("delayed: composes with Spark actions and fromDelayed") {
    import spark.implicits._
    // two independent Spark jobs composed driver-side, dask.compute-style
    val c1 = Delayed { spark.range(100).count() }
    val c2 = Delayed { spark.range(50).agg(sum("id")).first().getLong(0) }
    assert(Delayed.map2(c1, c2)(_ + _).compute() == 100L + 1225L)
    // delayed thunks as frame partitions (from_delayed integration)
    val gdf = graft.sources.IO.fromDelayed(spark,
      Seq(() => Seq(1, 2), () => Seq(3), () => Seq(4, 5)))
    assert(gdf.df.as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }
}
