package graft.sources

import graft.api.GDF
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** IO surface — reference §2.1/§2.2 (`dask/dataframe/io`).
  *
  * Every reader maps to a Spark DataSource (vectorized parquet/orc scan,
  * line-splittable csv/json/text, partition-ranged jdbc), so byte-range
  * splitting, schema inference, predicate pushdown and parallel writes —
  * which the reference implements by hand (e.g. csv byte-range splitting
  * `io/csv.py:748`, parquet row-group planning `io/parquet.py:827`) — are
  * engine-native.  `read_hdf`/`to_hdf` are documented descopes (no Spark
  * source; SURVEY §2.1).
  */
object IO {

  // ---- readers ---------------------------------------------------------

  def readParquet(spark: SparkSession, path: String, columns: Seq[String] = Nil): GDF = {
    val df = ParquetReader.read(spark, path)
    GDF(if (columns.isEmpty) df else df.select(columns.map(df.col): _*))
  }

  /** `read_csv`: header + dtype inference from sample, like the
    * reference; pass an explicit schema to skip the inference scan (the
    * scalable path — inference reads the data twice).
    */
  def readCsv(spark: SparkSession, path: String, header: Boolean = true,
              schema: Option[StructType] = None, sep: String = ","): GDF = {
    val r = spark.read.option("header", header.toString).option("sep", sep)
    GDF(schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path))
  }

  /** `read_json`: line-delimited by default (splittable); `multiLine`
    * for whole-file documents (one task per file, as in the reference).
    */
  def readJson(spark: SparkSession, path: String, multiLine: Boolean = false): GDF =
    GDF(spark.read.option("multiLine", multiLine.toString).json(path))

  def readOrc(spark: SparkSession, path: String): GDF = GDF(spark.read.orc(path))

  /** `read_fwf`: fixed-width fields — byte-range-splittable text scan +
    * codegen substring slicing per column (the reference parses per chunk
    * with pandas, `io/csv.py:418`).
    *
    * @param widths column widths in characters, in order
    * @param names  output column names (same arity as widths)
    */
  def readFwf(spark: SparkSession, path: String, widths: Seq[Int], names: Seq[String]): GDF = {
    require(widths.size == names.size, "one name per width")
    import org.apache.spark.sql.functions.{col, substring, trim}
    val offsets = widths.scanLeft(1)(_ + _)
    val cols = names.zip(widths).zip(offsets).map { case ((n, w), off) =>
      trim(substring(col("value"), off, w)).as(n)
    }
    GDF(spark.read.text(path).select(cols: _*))
  }

  def readText(spark: SparkSession, path: String): GDF = GDF(spark.read.text(path))

  /** `read_sql_table`: partition by numeric column range — identical
    * semantics to the reference's per-partition `WHERE lo <= col < hi`
    * pushdown (`io/sql.py:195`).
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               partitionColumn: String, lowerBound: Long, upperBound: Long,
               numPartitions: Int, props: java.util.Properties = new java.util.Properties()): GDF =
    GDF(spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, props))

  /** `from_delayed` (reference `io/_delayed.py`): build a frame from
    * driver-defined DELAYED partition thunks — each thunk materializes
    * one partition's rows lazily ON AN EXECUTOR, Spark's scheduler
    * replacing the dask graph (laziness, per-partition placement, and
    * re-execution on failure all come from the RDD contract).  Thunks
    * must be serializable closures (pure functions over driver data).
    */
  def fromDelayed[U: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      spark: SparkSession, thunks: Seq[() => IterableOnce[U]]): GDF = {
    val rdd = spark.sparkContext
      .parallelize(thunks, math.max(thunks.size, 1))
      .flatMap(_().iterator)
    GDF(spark.createDataset(rdd).toDF())
  }

  /** The session's Hadoop configuration as a serializable key-value
    * array (`Configuration` itself is Writable, not Serializable) — ship
    * to tasks so executor-side FileSystem access sees the session's
    * filesystem credentials and settings, not bare defaults.
    */
  private[graft] def hadoopConfKVs(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toArray
  }

  private[graft] def rebuildConf(kvs: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    kvs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** bag `read_avro` (reference `dask/bag/avro.py`): Avro CONTAINER files
    * decoded with the core Avro reader (present on every Spark classpath),
    * records surfaced as JSON strings (the Scala analog of the
    * reference's dicts; feed `spark.read.json` / `from_json` for a typed
    * frame).
    *
    * Splitting is BLOCK-level, like the reference (`avro.py`'s
    * sync-marker block ranges): each file is cut into byte ranges of
    * `maxSplitBytes` (default `spark.sql.files.maxPartitionBytes`), and
    * each task `sync()`s its range start to the next 16-byte sync marker
    * and reads whole blocks until `pastSync(end)` — so one multi-GB
    * container parallelizes across the cluster instead of serializing
    * into a single task.  A block belongs to the split containing its
    * leading sync, the same ownership rule Avro's Hadoop input format
    * uses, so every record is read exactly once.
    */
  def readAvro(spark: SparkSession, path: String, maxSplitBytes: Long = 0L): GDF = {
    val target =
      if (maxSplitBytes > 0) maxSplitBytes
      else org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    val sc = spark.sparkContext
    val kvs = hadoopConfKVs(spark)
    val glob = new org.apache.hadoop.fs.Path(path, "*.avro")
    val fs = glob.getFileSystem(sc.hadoopConfiguration)
    val files = Option(fs.globStatus(glob)).getOrElse(Array.empty)
      .map(s => (s.getPath.toString, s.getLen)).toSeq
    val splits = files.flatMap { case (f, len) =>
      (0L until math.max(len, 1L) by target).map(st => (f, st, math.min(st + target, len)))
    }
    val rows = sc.parallelize(splits, math.max(splits.size, 1))
      .flatMap { case (f, start, end) =>
        import org.apache.avro.file.DataFileReader
        import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
        val p = new org.apache.hadoop.fs.Path(f)
        val pfs = p.getFileSystem(rebuildConf(kvs))
        val len = pfs.getFileStatus(p).getLen
        val in = pfs.open(p)
        val sin = new org.apache.avro.file.SeekableInput {
          def seek(pos: Long): Unit = in.seek(pos)
          def tell(): Long = in.getPos
          def length(): Long = len
          def read(b: Array[Byte], off: Int, n: Int): Int = in.read(b, off, n)
          def close(): Unit = in.close()
        }
        val reader = new DataFileReader[GenericRecord](
          sin, new GenericDatumReader[GenericRecord]())
        reader.sync(start) // next sync marker at/after start (0 → first block)
        new Iterator[String] {
          private var done = false
          def hasNext: Boolean = {
            if (!done) {
              val h = reader.hasNext && !reader.pastSync(end)
              if (!h) { done = true; reader.close() }
            }
            !done
          }
          def next(): String = reader.next().toString // Avro's canonical JSON
        }
      }
    import spark.implicits._
    GDF(rows.toDF("value"))
  }

  /** bag `to_avro`: writes one Avro container file per partition with the
    * core Avro writer (records = `{"value": <string>}`), the mirror of
    * [[readAvro]]'s per-file unit.
    *
    * Tasks see the SESSION's Hadoop configuration (filesystem creds /
    * settings travel as a key-value array — `Configuration` is not
    * Serializable), and each part file commits through [[FileCommit]].
    */
  def toAvro(df: DataFrame, path: String): Unit = {
    val schemaJson =
      """{"type":"record","name":"line","fields":[{"name":"value","type":"string"}]}"""
    val col0 = df.columns.head
    val hadoopKVs = hadoopConfKVs(df.sparkSession)
    df.select(org.apache.spark.sql.functions.col(col0).cast("string").as("value"))
      .rdd.map(_.getString(0))
      .mapPartitionsWithIndex { (pid, it) =>
        import org.apache.avro.Schema
        import org.apache.avro.file.DataFileWriter
        import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
        val schema = new Schema.Parser().parse(schemaJson)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create(path), rebuildConf(hadoopKVs))
        var n = 0L
        FileCommit.write(fs, new org.apache.hadoop.fs.Path(path, f"part-$pid%05d.avro")) { out =>
          val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
          w.create(schema, out)
          it.foreach { s =>
            val rec = new GenericData.Record(schema)
            rec.put("value", s)
            w.append(rec)
            n += 1
          }
          w.close()
        }
        Iterator.single(n)
      }.count(): Unit
  }

  /** `from_map`-style source: one row-group per input item, function
    * applied distributively (reference `io/io.py:237`).
    */
  def fromMap[T: scala.reflect.ClassTag, U: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      spark: SparkSession, items: Seq[T],
      numPartitions: Int)(f: T => IterableOnce[U]): GDF = {
    val rdd = spark.sparkContext.parallelize(items, math.min(numPartitions, math.max(items.size, 1)))
      .flatMap(f(_).iterator)
    GDF(spark.createDataset(rdd).toDF())
  }

  // ---- writers ---------------------------------------------------------

  def toParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
                mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def toCsv(df: DataFrame, path: String, header: Boolean = true,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  def toJson(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  def toOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  def toJdbc(df: DataFrame, url: String, table: String,
             props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.jdbc(url, table, props)
}
