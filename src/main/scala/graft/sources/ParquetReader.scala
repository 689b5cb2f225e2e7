package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The engine's one parquet path reader: `spark.read.parquet(path)` with
  * each table's schema inferred once per session. The Spark-side analog of
  * dask-expr's `_cached_dataset_info` (`io/parquet.py`), which keeps a
  * dataset's footer-derived info across re-reads (SURVEY §2.1).
  *
  * A plain `spark.read.parquet` infers the schema on every call
  * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`), and that is a
  * one-task Spark job during query construction. This reader keeps the
  * inferred schema instead:
  *
  *  - '''What is cached''': the inferred schema only (data and partition
  *    columns), next to the leaf files it was inferred from.
  *  - '''Key''': the qualified path plus every session conf value, so a
  *    conf that changes inference (`spark.sql.legacy.parquet.nanosAsLong`,
  *    `spark.sql.parquet.binaryAsString`, …) misses.
  *  - '''Hit''': `spark.read.schema(cached).parquet(path)`, which launches
  *    no inference job. Spark still lists the path and builds its own
  *    relation.
  *  - '''Validation''': a hit stands only if that relation's leaf files
  *    (path, length and modification time of each, from
  *    `location.allFiles()`, which is already listed: no extra file-system
  *    call) equal the cached ones. On a mismatch or a miss the path is
  *    read and inferred as plain Spark does, and the entry is replaced.
  *  - '''Size''': a fixed LRU of [[MaxEntries]] entries.
  *
  * Deliberately not cached: the file listing, the relation and the data,
  * so a rewritten path is always listed and read fresh. A read that does
  * not resolve to a file-index relation (a V2 parquet source) is never
  * cached.
  */
object ParquetReader {

  private[sources] val MaxEntries = 64

  private final case class Key(path: String, conf: Map[String, String])
  private final case class Entry(schema: StructType, files: Set[(String, Long, Long)])

  private val cache = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      this.size > MaxEntries
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val key = Key(p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString,
      spark.conf.getAll)
    val hit = Option(cache.synchronized(cache.get(key))).flatMap { e =>
      val df = spark.read.schema(e.schema).parquet(path)
      if (leafFiles(df).contains(e.files)) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      val files = leafFiles(df)
      cache.synchronized(files match {
        case Some(fs) => cache.put(key, Entry(df.schema, fs))
        case None => cache.remove(key)
      })
      df
    }
  }

  private[sources] def size: Int = cache.synchronized(cache.size)

  /** (path, length, modification time) of every leaf file the read's
    * relation listed; None when the plan is not a file-index relation. */
  private def leafFiles(df: DataFrame): Option[Set[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case idx: PartitioningAwareFileIndex =>
        idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
      }
}
