package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark keeps compiled generated classes in one JVM-wide LRU cache keyed
  * on (class loader, generated source). GraftSession sizes that cache to
  * the engine's working set and keeps a warm query's key stable, so a
  * second invocation of a query compiles no class at all.
  */
class CodegenCacheSpec extends SparkTestBase {
  private val sfDir = "/root/testdata/sf0.01"
  // the llm_pipeline benchmark queries: ~220 distinct classes together,
  // more than Spark's default bound of 100
  private val queries =
    Seq("q120_dedup_clusters", "q133_pq_topk", "q169_zarr_roundtrip", "q176_semantic_dedup")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs every query once; returns the classes each one compiled. */
  private def round(): Seq[(String, Long)] = queries.map { q =>
    val c0 = compiles
    SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    q -> (compiles - c0)
  }

  test("a warm round of the llm_pipeline queries compiles no generated class") {
    val conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert(SparkTestBase.compilesBeforeSession == 0,
      s"precondition: ${SparkTestBase.compilesBeforeSession} classes were compiled in " +
        "this JVM before SparkTestBase.session was built, so Spark's codegen cache " +
        "was sized from another conf; build the session before any codegen runs")
    round()
    val warm = round()
    assert(warm.map(_._2).sum == 0,
      s"classes compiled per query on the warm round: $warm (cache bound $conf)")
    assert(conf == GraftSession.CodegenCacheEntries.toString)
  }
}
