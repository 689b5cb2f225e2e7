package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress fixture generator: replicates the sf0.1 tables ×N with
  * consistent key offsets into an sf1-like directory, so the SAME bench
  * queries can be run at ~10× rows (`runMain graft.ScaleGen [n] [out]`).
  * Used to check that plan shapes hold as data grows (see PLANS.md) —
  * the local stand-in for the 100 TB scale-up question.
  *
  * Third arg `zipf` (round-14, VERDICT r13 #2): every uniform replica
  * under-tests the one adversary a 100 TB fact-fact join always meets —
  * key skew. In zipf mode ~30% of the replicated lineitem rows collapse
  * onto 16 HOT orderkeys drawn from replica 0 (so referential integrity
  * against the scaled orders table holds), with zipf(s=2) weights across
  * the hot set (hot key 1 alone carries ~15% of the whole fact). That
  * makes the lineitem⋈orders shuffle partition for hot keys 100×+ the
  * median — the shape AQE's OptimizeSkewedJoin exists for, asserted by
  * SkewJoinDecisionSpec against this replica.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val zipf = args.length > 2 && args(2) == "zipf"
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.getOrCreate(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    val KEY_STRIDE = 100000000L // larger than any key in sf0.1

    def rep(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val copies = broadcast(spark.range(n).select(col("id").as("__rep")))
      val crossed = df.crossJoin(copies)
      keyCols.foldLeft(crossed) { (d, k) =>
        d.withColumn(k, col(k) + col("__rep") * KEY_STRIDE)
      }.drop("__rep")
    }
    def t(name: String): DataFrame = GraftSession.table(spark, src, name)
    def write(df: DataFrame, name: String, copies: Int): Unit = {
      // target ~64 MB files so a replica scan exposes row-group-level
      // parallelism (r15 scaling finding: the 100x lineitem landed in 2
      // ~445 MB files = ~8 row groups total, capping EVERY scan stage at
      // ~8 tasks regardless of cores — the c8/c32 pair was measuring the
      // replica's write layout, not the engine). Guide §6: file sizing is
      // part of the fixture contract; real deployments have thousands of
      // files per table. Sized from the source table's on-disk bytes ×
      // copies, not the plan's sizeInBytes: a crossJoin's estimate is the
      // product of its children's (~8× the real output). Clamped in Long
      // so the Int count cannot wrap.
      val srcPath = new org.apache.hadoop.fs.Path(s"$src/$name.parquet")
      val srcBytes = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(srcPath).getLength
      val files = math.min(100000L, math.max(spark.sparkContext.defaultParallelism.toLong,
        srcBytes * copies / (64L * 1024 * 1024) + 1)).toInt
      df.repartition(files).write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"[scalegen] wrote $name")
    }

    // small dims unreplicated — broadcast joins must stay broadcasts
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)
    write(rep(t("customer"), Seq("c_custkey")), "customer", n)
    write(rep(t("supplier"), Seq("s_suppkey")), "supplier", n)
    write(rep(t("part"), Seq("p_partkey")), "part", n)
    write(rep(t("orders"), Seq("o_orderkey", "o_custkey")), "orders", n)
    val lineitem = rep(t("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))
    val lineitemOut = if (!zipf) lineitem else {
      // 16 hot orderkeys that exist in the scaled orders (replica 0 keys
      // are carried unchanged — rep() offsets by __rep * STRIDE, and
      // __rep=0 keeps the original key)
      val hot = t("orders").select("o_orderkey").orderBy("o_orderkey")
        .limit(16).collect().map(_.getLong(0)).toSeq
      // deterministic per-row uniform in [0,1): portable hash, no rand()
      val u = (pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(100000))
        .cast("double") + lit(0.5)) / lit(100000.0)
      // zipf(s=2) over the hot set via inverse-CDF: k = floor(1/U) capped
      // to [1,16] -> key 1 gets ~half the skewed mass, key 2 ~17%, ...
      val idx = least(greatest(floor(lit(1.0) / (u / lit(0.3))), lit(1)), lit(16)).cast("int")
      lineitem.withColumn("l_orderkey",
        when(u < 0.3, element_at(typedlit(hot), idx))
          .otherwise(col("l_orderkey")))
    }
    write(lineitemOut, "lineitem", n)
    // events: written as a plain µs TIMESTAMP (readable by Spark AND the
    // DuckDB oracle; GraftSession.events adapts to either physical form)
    write(rep(GraftSession.events(spark, src), Seq("event_id", "user_id")), "events", n)
    write(rep(t("documents"), Seq("doc_id")), "documents", n)
    write(rep(t("embeddings"), Seq("vec_id")), "embeddings", n)
    spark.stop()
  }
}
