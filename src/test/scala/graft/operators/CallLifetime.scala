package graft.operators

import graft.SparkTestBase

/** Jobs and leftover caches of one operator call, for the lifetime specs. */
trait CallLifetime extends SparkTestBase {

  /** The number of jobs `body` starts, counted under a job group of its
    * own (a barrier job in a second group is awaited, so the listener bus
    * has delivered every earlier job event), and the ids of the RDDs it
    * leaves persisted once `release` has freed its result.
    */
  protected def measure[T](body: => T)(release: T => Unit): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val group = s"call-jobs-${java.util.UUID.randomUUID}"
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
}
