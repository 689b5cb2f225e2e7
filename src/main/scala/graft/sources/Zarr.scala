package graft.sources

import graft.operators.{ABlock, GArr}
import org.apache.spark.sql.SparkSession

/** zarr v2 chunked-store IO — dask's production array store (reference
  * `dask/array/core.py:3737` `from_zarr`, `:3004` `to_zarr`): a directory
  * holding one file per chunk (named `i.j.k` with "." separators) plus a
  * `.zarray` JSON metadata document. The v2 spec is public
  * (zarr-specs v2); this codec implements it directly:
  *
  *   - dtype `<f8` written, `<f8|<f4|<i8|<i4` read (little-endian,
  *     C order) — the numeric types the GArr double tier round-trips;
  *   - edge chunks stored FULL-SIZE, padded with `fill_value`, per spec;
  *   - compressor `null` (raw) or `{"id": "zlib"}` (RFC-1950 via
  *     `java.util.zip`, byte-identical to numcodecs' Zlib codec) — blosc
  *     needs a native library and is deliberately out;
  *   - missing chunk files read as all-`fill_value`, per spec.
  *
  * Both directions are narrow — one file per block, zero shuffle (the
  * write rechunks first iff the grid is irregular). Tasks see the
  * session's Hadoop configuration (shipped as key-value pairs, the Avro/
  * npy-stack pattern); every file commits through [[FileCommit]].
  */
object Zarr {

  private def deflate(bytes: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length / 4))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def inflate(bytes: Array[Byte], hint: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(bytes)
    val out = new java.io.ByteArrayOutputStream(math.max(64, hint))
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput())
        throw new java.io.IOException("zarr: truncated zlib chunk")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  /** Write `a` to `<path>` as a zarr v2 array. Chunk shape is the grid's
    * leading chunk per dim; an irregular grid (anything a plain
    * `evenChunks` layout can't describe) is rechunked first, like dask's
    * `to_zarr` which requires regular chunks.
    */
  def toZarr(a: GArr, path: String, compressor: String = "zlib",
             level: Int = 1, dimensionSeparator: String = "."): Unit = {
    require(a.ndim >= 1, "toZarr: 0-d arrays unsupported")
    require(compressor == "zlib" || compressor == "null",
      s"toZarr: unsupported compressor $compressor")
    require(dimensionSeparator == "." || dimensionSeparator == "/",
      s"toZarr: dimension_separator must be '.' or '/', got $dimensionSeparator")
    val regular = a.chunks.forall { cs =>
      cs.dropRight(1).forall(_ == cs.head) && cs.last <= cs.head && cs.last > 0
    }
    val arr = if (regular) a else a.rechunk(a.chunks.map(_.max))
    val fullChunk = arr.chunks.map(_.head).toArray
    writeChunkFiles(arr, path, fullChunk, compressor == "zlib", level,
      dimensionSeparator, Array.fill(arr.ndim)(0))
    val spark = arr.blocks.sparkSession
    val useZlib = compressor == "zlib"
    val sepW = dimensionSeparator
    val comp =
      if (useZlib) s"""{"id": "zlib", "level": $level}""" else "null"
    val meta =
      s"""{"zarr_format": 2,
         | "shape": ${arr.shape.mkString("[", ", ", "]")},
         | "chunks": ${fullChunk.mkString("[", ", ", "]")},
         | "dtype": "<f8",
         | "compressor": $comp,
         | "fill_value": 0.0,
         | "order": "C",
         | "filters": null,
         | "dimension_separator": "$sepW"}""".stripMargin
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    FileCommit.writeBytes(fs, new org.apache.hadoop.fs.Path(path, ".zarray"),
      meta.getBytes("UTF-8"))
  }

  /** Grid-parallel chunk-file writer shared by [[toZarr]] and
    * [[storeZarr]]: each block pads (C-order row copies) into the store's
    * full chunk shape, encodes, and commits `<bid + bidOffset>` through
    * [[FileCommit]] (which replaces a prior store's chunk). One
    * Configuration / FileSystem per PARTITION, not per block.
    */
  private def writeChunkFiles(arr: GArr, path: String, fullChunk: Array[Int],
                              useZlib: Boolean, level: Int, sepW: String,
                              bidOffset: Array[Int]): Unit = {
    val spark = arr.blocks.sparkSession
    val kvs = IO.hadoopConfKVs(spark)
    val chunksOf = arr.chunks.map(_.toArray)
    val nd = arr.ndim
    arr.blocks.rdd.mapPartitions { it =>
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(path), IO.rebuildConf(kvs))
      it.map { b =>
        val dims = Array.tabulate(nd)(d => chunksOf(d)(b.bid(d)))
        val total = fullChunk.product
        val full = new Array[Double](total)
        // copy the (possibly smaller) edge block into the padded full chunk,
        // one last-dim row at a time (both are C order)
        val rowLen = dims(nd - 1)
        val nRows = dims.product / math.max(rowLen, 1)
        val srcStr = Array.tabulate(nd)(d => dims.drop(d + 1).product)
        val dstStr = Array.tabulate(nd)(d => fullChunk.drop(d + 1).product)
        val loc = new Array[Int](nd)
        var r = 0
        while (r < nRows) {
          var dOff = 0
          var sOff = 0
          var d = 0
          while (d < nd - 1) { dOff += loc(d) * dstStr(d); sOff += loc(d) * srcStr(d); d += 1 }
          System.arraycopy(b.data, sOff, full, dOff, rowLen)
          // advance the row odometer (all dims but the last)
          var k = nd - 2
          var carry = true
          while (k >= 0 && carry) {
            loc(k) += 1
            if (loc(k) == dims(k)) { loc(k) = 0; k -= 1 } else carry = false
          }
          r += 1
        }
        val bb = java.nio.ByteBuffer.allocate(8 * total)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.asDoubleBuffer().put(full)
        val raw = bb.array()
        val payload = if (useZlib) deflate(raw, level) else raw
        val name = b.bid.zip(bidOffset).map { case (i, o) => i + o }.mkString(sepW)
        FileCommit.writeBytes(fs, new org.apache.hadoop.fs.Path(path, name), payload)
        1L
      }
    }.count(): Unit
  }

  /** dask `store` / `to_zarr(..., region=...)` (`array/core.py:4063`
    * store): write `a` into an ALIGNED region of an EXISTING zarr v2
    * array, starting at `offset` (one entry per dim). The aligned
    * contract — offset a multiple of the target chunk shape per dim, and
    * the region end either chunk-aligned or touching the array edge —
    * means every written block owns WHOLE target chunks, so the store is
    * one narrow grid-parallel pass with no read-modify-write and no
    * cross-writer locks (the reference's unaligned store path serializes
    * writers through a lock; at 100 TB you want this form). `.zarray`
    * metadata and chunks outside the region are untouched.
    */
  def storeZarr(a: GArr, path: String, offset: Seq[Long]): Unit = {
    val spark = a.blocks.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(path, ".zarray")
    val bytes = new Array[Byte](fs.getFileStatus(metaPath).getLen.toInt)
    val in = fs.open(metaPath)
    try in.readFully(0, bytes) finally in.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(bytes)
    require(root.path("zarr_format").asInt() == 2, "storeZarr: zarr v2 only")
    require(root.path("dtype").asText() == "<f8",
      s"storeZarr: target dtype ${root.path("dtype").asText()} unsupported (<f8 only)")
    require(root.path("order").asText() == "C", "storeZarr: F order unsupported")
    val compNode = root.path("compressor")
    val useZlib =
      if (compNode.isNull) false
      else if (compNode.path("id").asText() == "zlib") true
      else throw new IllegalArgumentException(
        s"storeZarr: compressor ${compNode.path("id")} unsupported")
    val level = if (useZlib) compNode.path("level").asInt(1) else 1
    val sep = {
      val n = root.path("dimension_separator")
      if (n.isMissingNode || n.isNull) "." else n.asText()
    }
    val shape = (0 until root.path("shape").size())
      .map(i => root.path("shape").get(i).asLong())
    val fullChunk = (0 until root.path("chunks").size())
      .map(i => root.path("chunks").get(i).asInt()).toArray
    val nd = shape.length
    require(a.ndim == nd && offset.length == nd,
      s"storeZarr: ndim mismatch (target $nd, array ${a.ndim}, offset ${offset.length})")
    for (d <- 0 until nd) {
      val end = offset(d) + a.shape(d)
      require(offset(d) >= 0 && end <= shape(d),
        s"storeZarr: region [${offset(d)}, $end) outside target dim $d of ${shape(d)}")
      require(offset(d) % fullChunk(d) == 0,
        s"storeZarr: offset ${offset(d)} not aligned to target chunk ${fullChunk(d)} on dim $d")
      require(end % fullChunk(d) == 0 || end == shape(d),
        s"storeZarr: region end $end neither chunk-aligned nor at the array edge on dim $d " +
          "(unaligned stores need read-modify-write; realign the region or rechunk the target)")
    }
    // align a's grid to the target chunk shape (one rechunk shuffle at most)
    val want = a.shape.zip(fullChunk.toSeq).map { case (l, c) => GArr.evenChunks(l, c) }
    val arr = if (a.chunks == want) a else a.rechunkTo(want)
    writeChunkFiles(arr, path, fullChunk, useZlib, level, sep,
      Array.tabulate(nd)(d => (offset(d) / fullChunk(d)).toInt))
  }

  /** Read a zarr v2 array at `<path>` as a [[GArr]]: one small driver read
    * of `.zarray`, then a grid-parallel narrow read of the chunk files
    * (payloads touched exactly once, on executors).
    */
  def fromZarr(spark: SparkSession, path: String): GArr = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(path, ".zarray")
    val bytes = new Array[Byte](fs.getFileStatus(metaPath).getLen.toInt)
    val in = fs.open(metaPath)
    try in.readFully(0, bytes) finally in.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(bytes)
    require(root.path("zarr_format").asInt() == 2,
      s"fromZarr: unsupported zarr_format ${root.path("zarr_format")}")
    require(root.path("order").asText() == "C", "fromZarr: F order unsupported")
    require(root.path("filters").isNull, "fromZarr: filters unsupported")
    val dtype = root.path("dtype").asText()
    val elemSize = dtype match {
      case "<f8" | "<i8" => 8
      case "<f4" | "<i4" => 4
      case other => throw new IllegalArgumentException(s"fromZarr: dtype $other unsupported")
    }
    val compNode = root.path("compressor")
    val useZlib =
      if (compNode.isNull) false
      else if (compNode.path("id").asText() == "zlib") true
      else throw new IllegalArgumentException(
        s"fromZarr: compressor ${compNode.path("id")} unsupported (blosc needs a native lib)")
    val sep = {
      val n = root.path("dimension_separator")
      if (n.isMissingNode || n.isNull) "." else n.asText()
    }
    // the v2 spec encodes non-finite float fills as the STRINGS "NaN" /
    // "Infinity" / "-Infinity"; silently reading those as 0.0 would
    // corrupt every missing-chunk read
    val fillNode = root.path("fill_value")
    val fill: Double =
      if (fillNode.isMissingNode || fillNode.isNull) 0.0
      else if (fillNode.isNumber) fillNode.asDouble()
      else if (fillNode.isTextual) fillNode.asText() match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case other => throw new IllegalArgumentException(
          s"fromZarr: unsupported fill_value string \"$other\"")
      }
      else throw new IllegalArgumentException(
        s"fromZarr: unsupported fill_value node $fillNode")
    val shape = (0 until root.path("shape").size())
      .map(i => root.path("shape").get(i).asLong())
    val fullChunk = (0 until root.path("chunks").size())
      .map(i => root.path("chunks").get(i).asInt()).toArray
    val nd = shape.length
    require(fullChunk.length == nd && nd >= 1)
    val chunks = shape.zip(fullChunk).map { case (l, c) => GArr.evenChunks(l, c) }
    val grid = chunks.map(_.length).toArray
    val nBlocks = grid.map(_.toLong).product
    val kvs = IO.hadoopConfKVs(spark)
    val blocks = spark.range(nBlocks).map { flat: java.lang.Long =>
      val bid = new Array[Int](nd)
      var rem = flat.longValue
      var d = nd - 1
      while (d >= 0) { bid(d) = (rem % grid(d)).toInt; rem /= grid(d); d -= 1 }
      val dims = Array.tabulate(nd) { dd =>
        math.min(fullChunk(dd).toLong, shape(dd) - bid(dd).toLong * fullChunk(dd)).toInt
      }
      val p = new org.apache.hadoop.fs.Path(path, bid.mkString(sep))
      val pfs = p.getFileSystem(IO.rebuildConf(kvs))
      val fullTotal = fullChunk.product
      val full: Array[Double] =
        if (!pfs.exists(p)) Array.fill(fullTotal)(fill)
        else {
          val raw0 = new Array[Byte](pfs.getFileStatus(p).getLen.toInt)
          val cin = pfs.open(p)
          try cin.readFully(0, raw0) finally cin.close()
          val raw = if (useZlib) inflate(raw0, fullTotal * elemSize) else raw0
          require(raw.length == fullTotal * elemSize,
            s"fromZarr: chunk $p has ${raw.length} bytes, want ${fullTotal * elemSize}")
          val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val a = new Array[Double](fullTotal)
          var i = 0
          dtype match {
            case "<f8" => val db = bb.asDoubleBuffer(); while (i < fullTotal) { a(i) = db.get(i); i += 1 }
            case "<f4" => val fb = bb.asFloatBuffer(); while (i < fullTotal) { a(i) = fb.get(i); i += 1 }
            case "<i8" => val lb = bb.asLongBuffer(); while (i < fullTotal) { a(i) = lb.get(i).toDouble; i += 1 }
            case _     => val ib = bb.asIntBuffer(); while (i < fullTotal) { a(i) = ib.get(i).toDouble; i += 1 }
          }
          a
        }
      // strip the spec's edge padding down to the logical block
      val isEdge = dims.zip(fullChunk).exists { case (a, b) => a != b }
      val data =
        if (!isEdge) full
        else {
          val rowLen = dims(nd - 1)
          val nRows = dims.product / math.max(rowLen, 1)
          val srcStr = Array.tabulate(nd)(d => fullChunk.drop(d + 1).product)
          val out = new Array[Double](dims.product)
          val loc = new Array[Int](nd)
          var r = 0
          var w = 0
          while (r < nRows) {
            var sOff = 0
            var d2 = 0
            while (d2 < nd - 1) { sOff += loc(d2) * srcStr(d2); d2 += 1 }
            System.arraycopy(full, sOff, out, w, rowLen)
            w += rowLen
            var k = nd - 2
            var carry = true
            while (k >= 0 && carry) {
              loc(k) += 1
              if (loc(k) == dims(k)) { loc(k) = 0; k -= 1 } else carry = false
            }
            r += 1
          }
          out
        }
      ABlock(bid.toSeq, data)
    }
    GArr(shape, chunks, blocks)
  }
}
