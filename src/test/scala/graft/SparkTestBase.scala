package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object SparkTestBase {
  /** Generated classes compiled in this JVM before [[session]] was built.
    * Spark sizes its codegen class cache once, when codegen is first used
    * in the JVM, so a non-zero count means the cache was sized by another
    * conf than GraftSession's (see CodegenCacheSpec).
    */
  @volatile private[graft] var compilesBeforeSession = 0L

  lazy val session: SparkSession = {
    compilesBeforeSession = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val s = GraftSession.builder(4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // mirror production: the whole suite runs under the engine's custom
    // optimizer rules, so every PlanGuard/decision assertion covers them
    GraftSession.registerOptimizations(s)
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}
