package graft.sources

import graft.SparkTestBase
import graft.operators.GArr

/** zarr v2 store codec (SURVEY §2.1/§2.2 chunked-store IO; reference
  * `dask/array/core.py:3737` from_zarr / `:3004` to_zarr), including a
  * fixture written by NumPy+zlib itself (`src/test/resources/zarr_fixture`,
  * produced with `zlib.compress(block.tobytes())` against the public v2
  * spec) so the byte format is pinned against the real ecosystem, plus a
  * deliberately missing chunk exercising the fill_value path.
  */
class ZarrSpec extends SparkTestBase {

  private def indexed(a: GArr): Map[Long, Double] =
    a.toIndexedDF.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private val f2: Array[Long] => Double = g => 1.0 + 7.0 * g(0) + 13.0 * g(1)

  test("roundtrip 2-D with edge chunks, zlib") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_rt").toString
    val a = GArr.fromFunction(spark, Seq(7L, 5L), Seq(3, 2))(f2)
    Zarr.toZarr(a, dir, compressor = "zlib", level = 1)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains(".zarray") && names.contains("2.2") && names.contains("0.0"))
    val b = Zarr.fromZarr(spark, dir)
    assert(b.shape == Seq(7L, 5L) && b.chunks == a.chunks)
    assert(indexed(b) == indexed(a))
  }

  test("roundtrip 1-D uncompressed; irregular grid is rechunked on write") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_rt1").toString
    // irregular chunks via concatenate-like construction: rechunk(4) after
    // building with chunk 3 gives evenChunks, so force irregular by slicing
    val a0 = GArr.fromFunction(spark, Seq(13L), Seq(4))(g => 0.25 * g(0) - 1.0)
    Zarr.toZarr(a0, dir, compressor = "null")
    val b = Zarr.fromZarr(spark, dir)
    assert(b.shape == Seq(13L))
    assert(indexed(b) == indexed(a0))
    // raw payload: full chunk is 4 doubles little-endian
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "0"))
    assert(raw.length == 32)
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getDouble(0) == -1.0 && bb.getDouble(8) == -0.75)
  }

  test("NumPy-written fixture: zlib chunks, edge padding, missing chunk -> fill") {
    val a = Zarr.fromZarr(spark, "src/test/resources/zarr_fixture")
    assert(a.shape == Seq(7L, 5L) && a.chunks == Seq(Seq(3, 3, 1), Seq(2, 2, 1)))
    val got = indexed(a)
    for (i <- 0L until 7L; j <- 0L until 5L) {
      // chunk (2,2) (rows 6, col 4) is deliberately absent -> fill 1.5
      val want = if (i >= 6 && j >= 4) 1.5 else (i * 5 + j) * 0.5 - 2.0
      assert(got(i * 5 + j) == want, s"($i,$j)")
    }
  }

  test("dimension_separator '/': nested chunk layout roundtrips") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_nested").toString
    val a = GArr.fromFunction(spark, Seq(5L, 6L), Seq(2, 3))(f2)
    Zarr.toZarr(a, dir, compressor = "zlib", level = 1, dimensionSeparator = "/")
    // chunks live under nested dirs: <dir>/0/0, <dir>/2/1, ...
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "0", "0")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "2", "1")))
    val b = Zarr.fromZarr(spark, dir)
    assert(b.shape == Seq(5L, 6L))
    assert(indexed(b) == indexed(a))
  }

  test("string fill_value encodings: NaN reads as NaN, junk is rejected") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_fill").toString
    val a = GArr.fromFunction(spark, Seq(4L), Seq(2))(g => g(0).toDouble)
    Zarr.toZarr(a, dir, compressor = "null")
    // rewrite .zarray with a doubled shape (chunk (2) missing -> fill) and
    // the spec's string "NaN" fill encoding
    val zp = java.nio.file.Paths.get(dir, ".zarray")
    val meta = new String(java.nio.file.Files.readAllBytes(zp), "UTF-8")
      .replace("\"fill_value\": 0.0", "\"fill_value\": \"NaN\"")
      .replace("\"shape\": [4]", "\"shape\": [6]")
    java.nio.file.Files.write(zp, meta.getBytes("UTF-8"))
    // drop Hadoop LocalFS's checksum sidecar — we rewrote the file directly
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "..zarray.crc"))
    val b = Zarr.fromZarr(spark, dir)
    assert(b.shape == Seq(6L))
    val got = indexed(b)
    assert((0 until 4).forall(i => got(i.toLong) == i.toDouble))
    assert(got(4L).isNaN && got(5L).isNaN)
    // a non-spec string must fail loudly, not silently read as 0.0
    val bad = meta.replace("\"NaN\"", "\"not-a-number\"")
    java.nio.file.Files.write(zp, bad.getBytes("UTF-8"))
    intercept[IllegalArgumentException] { Zarr.fromZarr(spark, dir) }
  }

  test("toZarr output is byte-compatible: decompress with java zlib == <f8 rows") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_bytes").toString
    val a = GArr.fromFunction(spark, Seq(4L, 4L), Seq(2, 2))(g => g(0) * 10.0 + g(1))
    Zarr.toZarr(a, dir)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ".zarray")), "UTF-8")
    assert(meta.contains("\"zarr_format\": 2") && meta.contains("\"dtype\": \"<f8\""))
    val comp = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "1.0"))
    val inf = new java.util.zip.Inflater()
    inf.setInput(comp)
    val out = new Array[Byte](32)
    assert(inf.inflate(out) == 32 && inf.finished())
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // chunk (1,0) holds rows 2..3, cols 0..1: [20,21,30,31]
    assert(Seq(bb.getDouble(0), bb.getDouble(8), bb.getDouble(16), bb.getDouble(24)) ==
      Seq(20.0, 21.0, 30.0, 31.0))
  }

  test("storeZarr: aligned region write updates only the region's chunks") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_store").toString
    // target: 8x6 of f2, chunks 2x3
    val base = GArr.fromFunction(spark, Seq(8L, 6L), Seq(2, 3))(f2)
    Zarr.toZarr(base, dir, compressor = "zlib", level = 1)
    // region: rows 2..5 (offset 2, aligned; end 6, aligned), all cols —
    // written from an array on a DIFFERENT chunking (forces the rechunk)
    val patch = GArr.fromFunction(spark, Seq(4L, 6L), Seq(3, 2))(g => -(100.0 + g(0) * 6 + g(1)))
    Zarr.storeZarr(patch, dir, Seq(2L, 0L))
    val got = indexed(Zarr.fromZarr(spark, dir))
    for (i <- 0L until 8L; j <- 0L until 6L) {
      val want = if (i >= 2 && i < 6) -(100.0 + (i - 2) * 6 + j) else f2(Array(i, j))
      assert(got(i * 6 + j) == want, s"($i,$j)")
    }
    // edge-touching region end: rows 6..7 (end == shape) is legal
    val tail2 = GArr.fromFunction(spark, Seq(2L, 6L), Seq(2, 3))(_ => 9.5)
    Zarr.storeZarr(tail2, dir, Seq(6L, 0L))
    val got2 = indexed(Zarr.fromZarr(spark, dir))
    for (j <- 0L until 6L) assert(got2(7 * 6 + j) == 9.5)
    // unaligned offset and interior unaligned end are rejected loudly
    val one = GArr.fromFunction(spark, Seq(2L, 6L), Seq(2, 3))(_ => 1.0)
    intercept[IllegalArgumentException] { Zarr.storeZarr(one, dir, Seq(1L, 0L)) }
    val odd = GArr.fromFunction(spark, Seq(3L, 6L), Seq(2, 3))(_ => 1.0)
    intercept[IllegalArgumentException] { Zarr.storeZarr(odd, dir, Seq(2L, 0L)) }
    // out-of-bounds region
    intercept[IllegalArgumentException] { Zarr.storeZarr(one, dir, Seq(8L, 0L)) }
  }

  test("storeZarr over chunks carrying .crc sidecars reads back the new values, verified") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_crc_store").toString
    val base = GArr.fromFunction(spark, Seq(6L, 4L), Seq(2, 2))(f2)
    Zarr.toZarr(base, dir, compressor = "null")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    // the readers below go through Hadoop's checksummed local file system
    fs match {
      case l: org.apache.hadoop.fs.LocalFileSystem => assert(l.getVerifyChecksum)
      case other => fail(s"expected Hadoop's LocalFileSystem, got ${other.getClass}")
    }
    for (side <- Seq(".zarray", "0.0", "1.0", "2.1"))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s".$side.crc")), side)
    // rows 2..3 replace chunks (1,0) and (1,1): each new chunk needs a new sidecar
    val patch = GArr.fromFunction(spark, Seq(2L, 4L), Seq(2, 2))(g => -1.0 - g(0) * 4 - g(1))
    Zarr.storeZarr(patch, dir, Seq(2L, 0L))
    val got = indexed(Zarr.fromZarr(spark, dir))
    for (i <- 0L until 6L; j <- 0L until 4L) {
      val want = if (i == 2 || i == 3) -1.0 - (i - 2) * 4 - j else f2(Array(i, j))
      assert(got(i * 4 + j) == want, s"($i,$j)")
    }
  }

  test("a byte flipped in a committed chunk fails fromZarr with a ChecksumException") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_crc_flip").toString
    val a = GArr.fromFunction(spark, Seq(4L, 4L), Seq(2, 2))(f2)
    Zarr.toZarr(a, dir, compressor = "null")
    assert(indexed(Zarr.fromZarr(spark, dir)) == indexed(a))
    val chunk = java.nio.file.Paths.get(dir, "1.0")
    val raw = java.nio.file.Files.readAllBytes(chunk)
    raw(11) = (raw(11) ^ 0x01).toByte
    java.nio.file.Files.write(chunk, raw)
    val e = intercept[Exception](indexed(Zarr.fromZarr(spark, dir)))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e.toString)
  }

  test("q169 writes its store into a directory deleted at JVM exit") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalFile
    def stores = tmp.listFiles().filter(_.getName.startsWith("graft_zarr_q169")).toSet
    import org.apache.spark.sql.functions.{col, lit}
    val in = java.nio.file.Files.createTempDirectory("q169_in").toString
    spark.range(6000).select(col("id").as("l_orderkey"), lit(1).as("l_linenumber"),
      col("id").as("l_partkey"), col("id").as("l_suppkey"), (col("id") / 100).as("l_extendedprice"))
      .write.parquet(s"$in/lineitem.parquet")
    val before = stores
    graft.SparkEntry.queries("q169_zarr_roundtrip")(spark, in).collect()
    val made = stores -- before
    assert(made.size == 1, s"q169 made $made")
    assert(org.apache.spark.sql.GraftSqlShim.isShutdownDeleteDir(made.head),
      s"${made.head} is not registered for deletion at JVM exit")
  }
}
