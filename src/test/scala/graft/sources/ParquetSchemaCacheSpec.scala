package graft.sources

import graft.{GraftSession, SparkTestBase}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `ParquetReader`: a table's schema is inferred once and reused while its
  * files are unchanged; any change of files or of session conf infers
  * again, and the cache never holds more than its bound.
  */
class ParquetSchemaCacheSpec extends SparkTestBase {

  import spark.implicits._

  private val base = "/tmp/graft_io/schema_cache"

  /** `body`'s result and the number of Spark jobs it started, counted
    * under a job group of its own. The status tracker is fed by the
    * listener bus, so a barrier job in a second group is awaited first:
    * once it shows, every job event before it has been processed.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-cache-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "read")
    val result = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-barrier", "barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-barrier").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    (result, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("hit: a second read of a fixture table starts no Spark job") {
    val first = GraftSession.table(spark, "/root/testdata/sf0.01", "orders")
    val (second, jobs) = jobsOf(GraftSession.table(spark, "/root/testdata/sf0.01", "orders"))
    assert(jobs == 0)
    assert(second.schema == first.schema)
    assert(second.collect().toSeq == first.collect().toSeq)
  }

  test("overwrite: a path rewritten with an added column reads the new schema and rows") {
    val dir = s"$base/overwrite"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    assert(ParquetReader.read(spark, dir).columns.toSeq == Seq("id", "s"))
    ParquetReader.read(spark, dir)
    Seq((3L, "c", 1.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(dir)
    val again = ParquetReader.read(spark, dir)
    assert(again.columns.toSeq == Seq("id", "s", "x"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((3L, "c", 1.5)))
  }

  test("conf flip: binaryAsString misses the cache and returns the inferred type") {
    // written without Spark's schema metadata, which inference would
    // prefer over the conf: an un-annotated BINARY column, as a
    // non-Spark writer leaves it
    val dir = s"$base/binary"
    val schema = MessageTypeParser.parseMessageType("message m { required int64 id; required binary b; }")
    val conf = new Configuration()
    FileSystem.getLocal(conf).delete(new Path(dir), true)
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/part.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("b", Binary.fromString("ab")))
    finally w.close()
    assert(ParquetReader.read(spark, dir).schema("b").dataType == BinaryType)
    val key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    val (flipped, jobs) = try jobsOf(ParquetReader.read(spark, dir)) finally spark.conf.unset(key)
    assert(jobs > 0, "a changed inference conf must infer again")
    assert(flipped.schema("b").dataType == StringType)
    assert(flipped.collect().map(_.getString(1)).toSeq == Seq("ab"))
    // the original conf's entry is still there
    val (back, backJobs) = jobsOf(ParquetReader.read(spark, dir))
    assert(backJobs == 0 && back.schema("b").dataType == BinaryType)
  }

  test("partitioned directory: the second read is a hit and still prunes to 1 partition") {
    val dir = s"$base/part_orders"
    val df = Seq(
      (1L, "F", 10.0), (2L, "F", 20.0), (3L, "O", 30.0), (4L, "P", 40.0)
    ).toDF("id", "status", "price")
    IO.toParquet(df, dir, partitionBy = Seq("status"))
    val first = IO.readParquet(spark, dir)
    val (second, jobs) = jobsOf(IO.readParquet(spark, dir))
    assert(jobs == 0)
    assert(second.df.schema == first.df.schema)
    assert(second.df.collect().toSet == first.df.collect().toSet)
    val pruned = second.filter(col("status") === "F")
    assert(pruned.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val scanned = pruned.df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.contains(1), s"expected 1 pruned partition, got $scanned")
  }

  test("bound: more distinct paths than the LRU bound leave the cache at its bound") {
    val src = s"$base/bound_src"
    Seq(1L).toDF("id").coalesce(1).write.mode("overwrite").parquet(src)
    val part = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get
    (0 to ParquetReader.MaxEntries).foreach { i =>
      val dir = Paths.get(s"$base/bound/t$i")
      Files.createDirectories(dir)
      Files.copy(part.toPath, dir.resolve("part.parquet"), StandardCopyOption.REPLACE_EXISTING)
      assert(ParquetReader.read(spark, dir.toString).count() == 1L)
    }
    assert(ParquetReader.size == ParquetReader.MaxEntries)
  }
}
