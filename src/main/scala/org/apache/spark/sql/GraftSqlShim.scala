package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to package-private Spark seams: the two `private[sql]` ones
  * the InternalRow scan path needs (round-15 optimization: the two-phase
  * scan operators move off `df.rdd`/`createDataFrame(rowRdd)`, whose
  * per-row external-Row deserialize/convert passes cost ~2x the window
  * path at 10x — GroupedScanProbe, VERDICT r14 #1), and Spark's
  * shutdown-registered temp directories.
  *
  * Compiling a one-file helper into the `org.apache.spark.sql` package to
  * reach package-private API is the standard technique used by
  * open-source Spark extensions (connectors, Delta, etc.); both members
  * are stable across Spark 3.x/4.x.
  */
object GraftSqlShim {

  /** The physical plan's InternalRow RDD — `Dataset.rdd` without the
    * per-row deserialization to external Row objects. The iterator
    * REUSES row buffers: consumers must `copy()` anything retained
    * across `next()` calls.
    */
  def internalRdd(df: Dataset[Row]): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** DataFrame over an RDD[InternalRow] — `createDataFrame` without the
    * external-Row-to-Catalyst converter pass. Rows must already be in
    * Catalyst form (UnsafeRow or GenericInternalRow with Catalyst field
    * values) and match `schema`.
    */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): Dataset[Row] =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Catalyst-to-external value converter for one data type (UTF8String →
    * String, Decimal → BigDecimal, …) — used when driver-side metadata
    * read off InternalRows must surface in external Rows.
    */
  def toScalaConverter(dt: org.apache.spark.sql.types.DataType): Any => Any =
    catalyst.CatalystTypeConverters.createToScalaConverter(dt)

  /** A fresh `<prefix>-<uuid>` directory under `java.io.tmpdir` that
    * Spark's shutdown hook deletes, with its contents, when the JVM exits.
    */
  def createTempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  /** Whether `dir` is registered for deletion at JVM exit. */
  def isShutdownDeleteDir(dir: java.io.File): Boolean =
    org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(dir)
}
