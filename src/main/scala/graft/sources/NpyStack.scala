package graft.sources

import graft.operators.{ABlock, GArr}
import org.apache.spark.sql.SparkSession

/** dask `to_npy_stack` / `from_npy_stack` (reference
  * `dask/array/core.py:to_npy_stack,from_npy_stack`): an ndarray is
  * persisted as one `<i>.npy` file per chunk along axis 0 plus a small
  * `info` metadata file. dask requires the array to be chunked ONLY along
  * axis 0 for this layout; we enforce the same contract.
  *
  * The .npy v1.0 codec ('<f8', C-order) is implemented from the public
  * NumPy format spec (NEP-1 / numpy.lib.format) — fixed magic, a uint16
  * little-endian header length, and a Python-dict header string padded to
  * a 64-byte boundary. Like the Avro writer, tasks see the SESSION's
  * Hadoop configuration (shipped as serializable key-value pairs) and
  * commit every file through [[FileCommit]]. One file per block keeps the
  * write narrow — zero shuffle either direction.
  */
object NpyStack {

  private val Magic: Array[Byte] =
    Array(0x93.toByte, 'N'.toByte, 'U'.toByte, 'M'.toByte, 'P'.toByte, 'Y'.toByte)

  /** npy v1.0 header bytes for a C-order little-endian float64 array. */
  private[graft] def npyHeader(shape: Seq[Int]): Array[Byte] = {
    val shapeStr = shape.mkString("(", ", ", if (shape.length == 1) ",)" else ")")
    val dict = s"{'descr': '<f8', 'fortran_order': False, 'shape': $shapeStr, }"
    val unpadded = Magic.length + 2 + 2 + dict.length + 1 // ver(2) + hlen(2) + \n
    val pad = (64 - unpadded % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    out.write(1); out.write(0) // version 1.0
    out.write(header.length & 0xff); out.write((header.length >> 8) & 0xff)
    out.write(header.getBytes("ASCII"))
    out.toByteArray
  }

  /** Parse an npy v1.0/2.0 header, returning (shape, dataOffset). */
  private[graft] def parseNpyHeader(bytes: Array[Byte]): (Seq[Int], Int) = {
    require(bytes.length > 10 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not an npy file")
    val major = bytes(6)
    val (hlen, off0) =
      if (major == 1) ((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8), 10)
      else (((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8) |
             ((bytes(10) & 0xff) << 16) | ((bytes(11) & 0xff) << 24)), 12)
    val header = new String(bytes, off0, hlen, "ASCII")
    require(header.contains("'<f8'") && header.contains("'fortran_order': False"),
      s"unsupported npy dtype/order: $header")
    val m = """'shape':\s*\(([^)]*)\)""".r.findFirstMatchIn(header)
      .getOrElse(throw new IllegalArgumentException(s"npy header without shape: $header"))
    val shape = m.group(1).split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    (shape, off0 + hlen)
  }

  /** Write `a` as `<path>/<i>.npy` (one per axis-0 chunk) + `<path>/info`.
    * Requires every non-0 axis single-chunk (rechunk first, as dask does).
    */
  def toNpyStack(a: GArr, path: String): Unit = {
    require(a.chunks.drop(1).forall(_.length == 1),
      s"to_npy_stack needs axes 1.. single-chunk (got grid ${a.grid}); rechunk first")
    val spark = a.blocks.sparkSession
    val kvs = IO.hadoopConfKVs(spark)
    val chunks0 = a.chunks.head.toArray
    val restDims = a.shape.drop(1).map(_.toInt).toArray
    a.blocks.rdd.mapPartitions { it =>
      // one Configuration/FileSystem per partition, not per block
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(path), IO.rebuildConf(kvs))
      it.map { b =>
      val i = b.bid.head
      val dims = chunks0(i) +: restDims.toSeq
      val hdr = npyHeader(dims)
      FileCommit.write(fs, new org.apache.hadoop.fs.Path(path, s"$i.npy")) { out =>
        out.write(hdr)
        val bb = java.nio.ByteBuffer.allocate(8 * 1024)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < b.data.length) {
          bb.clear()
          val n = math.min(1024, b.data.length - j)
          var k = 0
          while (k < n) { bb.putDouble(b.data(j + k)); k += 1 }
          out.write(bb.array(), 0, 8 * n)
          j += n
        }
      }
      1L
      }
    }.count(): Unit
    // driver-side metadata (dask writes a pickled `info`; JSON here)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    val info = s"""{"shape": ${a.shape.mkString("[", ", ", "]")}, """ +
      s""""chunks0": ${a.chunks.head.mkString("[", ", ", "]")}, "axis": 0}"""
    FileCommit.writeBytes(fs, new org.apache.hadoop.fs.Path(path, "info"), info.getBytes("UTF-8"))
  }

  /** Read a stack written by [[toNpyStack]] (or by NumPy itself, one file
    * per axis-0 chunk named `<i>.npy`): per-file parallel narrow read.
    * Metadata comes from the `info` file when present (one small driver
    * read, as dask does) or from a driver scan of the per-file headers
    * (O(files) 1 KB reads) — the payloads are read exactly once, on
    * executors.
    */
  def fromNpyStack(spark: SparkSession, path: String): GArr = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.matches("\\d+\\.npy"))
      .map(n => n.dropRight(4).toInt).sorted
    require(files.nonEmpty, s"no <i>.npy files under $path")
    require(files.sameElements(files.indices), s"non-contiguous npy stack under $path")
    def headerDims(i: Int): Seq[Int] = {
      // readFully up to min(1024, fileLen): a bare read() may legally
      // return fewer bytes than available (HDFS/object stores) and
      // truncate the header mid-parse
      val p = new org.apache.hadoop.fs.Path(path, s"$i.npy")
      val want = math.min(1024L, fs.getFileStatus(p).getLen).toInt
      val buf = new Array[Byte](want)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      parseNpyHeader(buf)._1
    }
    val infoPath = new org.apache.hadoop.fs.Path(path, "info")
    val (shape, chunks0): (Seq[Long], Seq[Int]) =
      if (fs.exists(infoPath)) {
        val in = fs.open(infoPath)
        val bytes = new Array[Byte](fs.getFileStatus(infoPath).getLen.toInt)
        in.readFully(0, bytes); in.close()
        val txt = new String(bytes, "UTF-8")
        def arr(key: String): Seq[Long] =
          (s""""$key":\\s*\\[([^\\]]*)\\]""").r.findFirstMatchIn(txt)
            .map(_.group(1).split(',').map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
            .getOrElse(throw new IllegalArgumentException(s"info without $key: $txt"))
        (arr("shape"), arr("chunks0").map(_.toInt))
      } else {
        val dims = files.map(headerDims)
        val rest = dims.head.drop(1)
        require(dims.forall(_.drop(1) == rest), "npy stack files disagree on non-0 axes")
        (dims.map(_.head.toLong).sum +: rest.map(_.toLong), dims.map(_.head).toSeq)
      }
    val nd = shape.length
    val restDims = shape.drop(1).map(_.toInt)
    val chunksMeta = chunks0 +: restDims.map(r => Seq(r))
    val kvs = IO.hadoopConfKVs(spark)
    val pathB = path
    val expected = chunks0.toArray
    val blocks = spark.createDataset(files.toSeq).map { i =>
      val fs2 = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(pathB), IO.rebuildConf(kvs))
      val p = new org.apache.hadoop.fs.Path(pathB, s"$i.npy")
      val len = fs2.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = fs2.open(p)
      in.readFully(0, bytes)
      in.close()
      val (dims, off) = parseNpyHeader(bytes)
      require(dims.head == expected(i),
        s"npy stack file $i has ${dims.head} rows, metadata says ${expected(i)}")
      val total = dims.product
      val data = new Array[Double](total)
      val bb = java.nio.ByteBuffer.wrap(bytes, off, 8 * total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var j = 0
      while (j < total) { data(j) = bb.getDouble(); j += 1 }
      ABlock(i +: Seq.fill(nd - 1)(0), data)
    }
    GArr(shape, chunksMeta, blocks)
  }
}
