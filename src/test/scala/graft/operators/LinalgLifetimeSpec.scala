package graft.operators

/** Jobs and cache lifetime of the blocked factorizations: `lu`,
  * `cholesky` and `solveTriangular` start a fixed number of Spark jobs
  * per call on each panel-delivery path, and leave no persisted RDD
  * behind once their returned frames are released.
  */
class LinalgLifetimeSpec extends CallLifetime {

  private val broadcast = 16L << 20
  private val cogroup = 0L

  /** n×n col-major: symmetric and diagonally dominant, so SPD. */
  private def spd(n: Int): Array[Double] = Array.tabulate(n * n) { idx =>
    val r = idx % n; val c = idx / n
    if (r == c) 4.0 * n + r else ((r + c) % 3).toDouble
  }

  private def lowerOf(a: Array[Double], n: Int): Array[Double] =
    Array.tabulate(n * n)(idx => if (idx % n >= idx / n) a(idx) else 0.0)

  // (n, gate, jobs) at b = 2: n = 4 runs 2 rounds; n = 18 runs 9, so the
  // 8th round's localCheckpoint is on the path
  private def cases(jobs: Int*): Seq[(Int, Long, Int)] =
    Seq(4, 18).flatMap(n => Seq(n -> broadcast, n -> cogroup))
      .zip(jobs).map { case ((n, gate), j) => (n, gate, j) }

  test("lu: pinned job count on both delivery paths; only l and u stay persisted") {
    for ((n, gate, want) <- cases(13, 12, 34, 26)) {
      val blocks = Linalg.denseToBlocks(spark, spd(n), n, 2)
      val (jobs, left) = measure(Linalg.lu(blocks, 2, gate)) { f =>
        f.l.unpersist(true); f.u.unpersist(true)
      }
      assert(jobs == want, s"n=$n gate=$gate")
      assert(left.isEmpty, s"n=$n gate=$gate left persisted: $left")
    }
  }

  test("cholesky: pinned job count on both delivery paths; only the factor stays persisted") {
    for ((n, gate, want) <- cases(10, 9, 31, 23)) {
      val blocks = Linalg.denseToBlocks(spark, spd(n), n, 2)
      val (jobs, left) = measure(Linalg.cholesky(blocks, 2, gate))(_.unpersist(true))
      assert(jobs == want, s"n=$n gate=$gate")
      assert(left.isEmpty, s"n=$n gate=$gate left persisted: $left")
    }
  }

  test("solveTriangular: pinned job count on both delivery paths; only the solution stays persisted") {
    for ((n, gate, want) <- cases(8, 7, 29, 21)) {
      val t = Linalg.denseToBlocks(spark, lowerOf(spd(n), n), n, 2)
      val rhs = GArr.fromFunction(spark, Seq(n.toLong, 3L), Seq(2, 2))(g => (g(0) * 3 + g(1)).toDouble)
      val (jobs, left) = measure(
        Linalg.solveTriangular(t, 2, rhs, lower = true, panelBroadcastBytes = gate)) { x =>
        x.blocks.unpersist(true)
      }
      assert(jobs == want, s"n=$n gate=$gate")
      assert(left.isEmpty, s"n=$n gate=$gate left persisted: $left")
    }
  }

  test("cholesky(GArr): pinned job count; the returned array owns the only cache the call leaves") {
    for ((n, want) <- Seq(4 -> 13, 18 -> 34)) {
      val a = GArr.fromFunction(spark, Seq(n.toLong, n.toLong), Seq(2, 2)) { g =>
        if (g(0) == g(1)) 4.0 * n + g(0) else ((g(0) + g(1)) % 3).toDouble
      }
      val (jobs, left) = measure(Linalg.cholesky(a))(_.blocks.unpersist(true))
      assert(jobs == want, s"n=$n")
      assert(left.isEmpty, s"n=$n left persisted: $left")
    }
  }
}
