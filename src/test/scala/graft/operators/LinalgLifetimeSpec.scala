package graft.operators

import graft.SparkTestBase

/** Jobs and cache lifetime of the blocked factorizations: `lu`,
  * `cholesky` and `solveTriangular` start a fixed number of Spark jobs
  * per call on each panel-delivery path, and leave no persisted RDD
  * behind once their returned frames are released.
  */
class LinalgLifetimeSpec extends SparkTestBase {

  private val broadcast = 16L << 20
  private val cogroup = 0L

  /** The number of jobs `body` starts, counted under a job group of its
    * own (a barrier job in a second group is awaited, so the listener bus
    * has delivered every earlier job event), and the ids of the RDDs it
    * leaves persisted once `release` has freed its result.
    */
  private def measure[T](body: => T)(release: T => Unit): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val group = s"linalg-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "call")
    val result = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-barrier", "barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-barrier").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    val jobs = sc.statusTracker.getJobIdsForGroup(group).length
    release(result)
    (jobs, sc.getPersistentRDDs.keySet.toSet -- before)
  }

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
}
