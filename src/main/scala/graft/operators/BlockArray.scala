package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One chunk of a distributed ndarray: `bid` is the block coordinate in the
  * chunk grid (one entry per dimension), `data` the block's values
  * flattened in C (row-major) order.
  */
final case class ABlock(bid: Seq[Int], data: Array[Double])

/** Scatter piece shuffled between chunk grids: `offs(i)` is the C-order
  * local offset inside destination block `bid` where `vals(i)` lands.
  * `key` is the destination block's C-order linear index in ITS grid — a
  * numeric shuffle key (hashes/compares cheaper than a joined string and
  * shaves bytes on grids with millions of blocks).
  */
final case class ScatterPiece(key: Long, bid: Seq[Int],
                              offs: Array[Int], vals: Array[Double])

/** One per-dimension assignment index for [[GArr.updatedAt]] — the Scala
  * spelling of the reference's parsed index tuple
  * (`dask/array/slicing.py:1236` `parse_assignment_indices`).
  */
sealed trait AssignIdx
object AssignIdx {
  /** Integer index `x[..., i, ...]` (negative counts from the end); the
    * dimension is squeezed out of the value's shape, numpy-style.
    */
  final case class Pt(i: Long) extends AssignIdx
  /** Slice with Python `slice.indices` semantics: negative start/stop
    * count from the end, bounds clamp by step direction, step may be
    * negative (step == 0 rejected). `Sl(0, Long.MaxValue, 1)` is the full
    * slice.
    */
  final case class Sl(start: Long, stop: Long, step: Long) extends AssignIdx
  /** Integer index array. ANY ndim (numpy generality — the reference stops
    * at 1-D, `slicing.py:1390`): an ndim index flattens to C order, which
    * is numpy's sequential write order, and contributes its full shape to
    * the value's expected shape. Negative entries wrap.
    */
  final case class Ix(idx: GArr) extends AssignIdx
  /** 1-D boolean mask along the dimension (nonzero = selected), the
    * reference's bool-1d branch; resolves to [[Ix]] via flatnonzero.
    */
  final case class Bx(mask: GArr) extends AssignIdx
  /** The full slice, for padding index tuples to ndim. */
  val All: Sl = Sl(0L, Long.MaxValue, 1L)
}

/** One per-dimension key for [[GArr.vindexMixed]] — the Scala spelling of
  * the reference's vindex key tuple (`core.py:5797` `_vindex`): an
  * integer (squeezed), a positive-step slice, or a driver-held integer
  * index array (shape + C-order entries) that vectorizes pointwise.
  */
sealed trait VindexKey
object VindexKey {
  final case class I(i: Long) extends VindexKey
  final case class S(start: Long, stop: Long, step: Long) extends VindexKey
  final case class A(shape: Seq[Long], idx: Array[Long]) extends VindexKey
  /** The full slice. */
  val All: S = S(0L, Long.MaxValue, 1L)
}

/** Distributed chunked ndarray — the dask.array collection re-expressed on
  * Spark (reference: `dask/array/core.py:551` map_blocks,
  * `array/blockwise.py:17`, `array/slicing.py`, `array/rechunk.py:270`,
  * `array/reshape.py`, `array/_shuffle.py`).
  *
  * Representation: a `Dataset[ABlock]` plus driver-side metadata (`shape`,
  * and dask-style `chunks` = the list of chunk sizes along each dimension).
  * The metadata is O(grid size), never O(elements): exactly dask's split
  * between the driver-held chunk structure and worker-held block payloads.
  *
  * Movement between chunk grids (slice/rechunk/reshape/shuffle) is ONE
  * shuffle of [[ScatterPiece]] rows keyed by destination block — never a
  * driver collect, never more than one exchange per operation — so every
  * op here survives a 1000-executor scale-up: block payloads are bounded
  * by the chunk size regardless of total array length.
  */
final case class GArr(shape: Seq[Long], chunks: Seq[Seq[Int]], blocks: Dataset[ABlock]) {
  import GArr._

  def ndim: Int = shape.length
  def grid: Seq[Int] = chunks.map(_.length)
  def numElements: Long = shape.product

  private def spark: SparkSession = blocks.sparkSession

  /** dask `persist` for arrays: SQL-level Dataset cache (visible to
    * `spark.catalog.clearCache()`, per the round-5 advisor contract) so a
    * multi-consumer chain — several reductions off one grid — computes
    * the build lineage once instead of once per consumer.
    */
  def persist(): GArr =
    copy(blocks = blocks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  def unpersist(): GArr = copy(blocks = blocks.unpersist())

  /** dask `map_blocks` (array/core.py:551): per-block kernel, narrow (no
    * shuffle). The kernel must preserve the block's element count.
    */
  def mapBlocks(f: (Seq[Int], Array[Double]) => Array[Double]): GArr = {
    val s = spark
    import s.implicits._
    copy(blocks = blocks.map { b =>
      val out = f(b.bid, b.data)
      require(out.length == b.data.length,
        s"mapBlocks kernel changed block size ${b.data.length} -> ${out.length}")
      ABlock(b.bid, out)
    })
  }

  /** Elementwise unary map (ufunc over blocks). */
  def scalarMap(f: Double => Double): GArr =
    mapBlocks((_, d) => { val o = new Array[Double](d.length)
      var i = 0; while (i < d.length) { o(i) = f(d(i)); i += 1 }; o })

  /** dask `blockwise` in its elementwise-binary form (array/blockwise.py:17
    * with identical index strings): zip equal chunk grids block-by-block.
    * One shuffle (the block-id equi-join); with co-partitioned inputs AQE
    * keeps both sides local.
    */
  def elemwise(other: GArr)(op: (Double, Double) => Double): GArr = {
    require(shape == other.shape && chunks == other.chunks,
      s"elemwise requires identical chunk grids: $shape/$chunks vs ${other.shape}/${other.chunks}")
    val s = spark
    import s.implicits._
    val g = grid
    val l = blocks.map(b => (linearBidL(b.bid, g), b.bid, b.data))
    val r = other.blocks.map(b => (linearBidL(b.bid, g), b.data))
    val joined = l.joinWith(r, l("_1") === r("_1"))
    copy(blocks = joined.map { case ((_, bid, a), (_, c)) =>
      require(a.length == c.length)
      val o = new Array[Double](a.length)
      var i = 0; while (i < a.length) { o(i) = op(a(i), c(i)); i += 1 }
      ABlock(bid, o)
    })
  }

  /** numpy `where(cond, a, b)` — three-way blockwise zip on identical
    * chunk grids (cond nonzero/NaN-truthy selects from `this`, else from
    * `other`). ONE exchange: the three sides are tagged, unioned, and
    * co-grouped on the numeric block id — the bytes moved equal the three
    * inputs exactly, with no second join exchange.
    */
  def where(cond: GArr, other: GArr): GArr = {
    require(shape == cond.shape && chunks == cond.chunks &&
      shape == other.shape && chunks == other.chunks,
      "where requires identical chunk grids on cond/this/other")
    val s = spark
    import s.implicits._
    val g = grid
    val tagged = blocks.map(b => (linearBidL(b.bid, g), 0, b.bid, b.data))
      .union(cond.blocks.map(b => (linearBidL(b.bid, g), 1, b.bid, b.data)))
      .union(other.blocks.map(b => (linearBidL(b.bid, g), 2, b.bid, b.data)))
    copy(blocks = tagged.groupByKey(_._1).mapGroups { (_, it) =>
      var a: Array[Double] = null; var cd: Array[Double] = null
      var b: Array[Double] = null; var bid: Seq[Int] = null
      it.foreach { row =>
        row._2 match {
          case 0 => a = row._4; bid = row._3
          case 1 => cd = row._4
          case _ => b = row._4
        }
      }
      require(a != null && cd != null && b != null, "where: missing a side's block")
      val o = new Array[Double](a.length)
      var i = 0
      while (i < a.length) { o(i) = if (cd(i) != 0.0) a(i) else b(i); i += 1 }
      ABlock(bid, o)
    })
  }

  /** Full reduction: per-block partial (map-side), then a driver combine of
    * one scalar per block — the dask tree-reduce collapsed to two levels,
    * which is exactly what `reductions.py:70` does for `split_every=None`.
    */
  def reduceAll(zero: Double)(seqOp: (Double, Double) => Double,
                              combOp: (Double, Double) => Double): Double = {
    val s = spark
    import s.implicits._
    val partials = blocks.map { b =>
      var acc = zero; var i = 0
      while (i < b.data.length) { acc = seqOp(acc, b.data(i)); i += 1 }
      acc
    }
    partials.rdd.fold(zero)(combOp)
  }

  def sumAll: Double = reduceAll(0.0)(_ + _, _ + _)

  /** Per-block sums keyed by linear block index (C-order over the grid) —
    * the blockwise-reduction shape used by the oracle queries.
    */
  def blockSums: DataFrame = {
    val g = grid
    val s = spark
    import s.implicits._
    blocks.map { b =>
      var acc = 0.0; var i = 0
      while (i < b.data.length) { acc += b.data(i); i += 1 }
      (linearBid(b.bid, g), acc)
    }.toDF("block", "s")
  }

  /** Explode to (global C-order flat index, value) rows. */
  def toIndexedDF: DataFrame = {
    val sh = shape
    val st = chunks.map(startsOf)
    val s = spark
    import s.implicits._
    blocks.flatMap { b =>
      val nd = sh.length
      val dims = Array.tabulate(nd)(d => chunkDim(st(d), b.bid(d)))
      val gstart = Array.tabulate(nd)(d => st(d)(b.bid(d)))
      val strides = cStrides(sh)
      val out = new Array[(Long, Double)](b.data.length)
      val loc = new Array[Int](nd)
      var i = 0
      while (i < b.data.length) {
        var f = 0L
        var d = 0
        while (d < nd) { f += (gstart(d) + loc(d)) * strides(d); d += 1 }
        out(i) = (f, b.data(i))
        incOdo(loc, dims)
        i += 1
      }
      out
    }.toDF("idx", "value")
  }

  /** numpy basic slicing `[start:stop:step, ...]` (reference
    * `array/slicing.py:1-2117`, the `slice_array` path). One scatter
    * shuffle; destination chunking is rebalanced to `targetChunk` elements
    * per output dimension-chunk.
    */
  def slice(specs: Seq[(Long, Long, Long)], targetChunk: Int = 65536): GArr = {
    require(specs.length == ndim)
    val outLens = specs.zip(shape).map { case ((start, stop0, step), len) =>
      val stop = math.min(stop0, len)
      require(start >= 0 && step > 0 && start <= len, s"bad slice ($start,$stop0,$step) on dim $len")
      math.max(0L, (stop - start + step - 1) / step)
    }
    val perDimChunk = chooseChunks(outLens, targetChunk)
    regrid(specs, outLens, perDimChunk)
  }

  /** dask `rechunk` (array/rechunk.py:270): same elements, new chunk
    * boundaries. Pieces are (old-block ∩ new-block) intersections — the
    * same intermediate dask plans — moved in one shuffle.
    */
  def rechunk(newChunkSizes: Seq[Int]): GArr = {
    require(newChunkSizes.length == ndim)
    val specs = shape.map(len => (0L, len, 1L))
    val newChunks = shape.zip(newChunkSizes).map { case (l, c) => evenChunks(l, c) }
    regrid(specs, shape, newChunks)
  }

  /** numpy fancy indexing with a driver-held integer index array along one
    * axis — `x[[5,3,9], :]` / `np.take` (reference `array/slicing.py:582`
    * `take`, which likewise materializes the index inside the graph, so the
    * driver-side O(k) index cost matches dask's own contract; for an index
    * that is itself a distributed array use [[takeArr]]). Duplicates and
    * out-of-order indices are allowed. ONE scatter shuffle; per-element
    * entries are coalesced to one shuffle record per (src,dst) block pair
    * by [[piecesByTables]].
    */
  def take(indices0: Seq[Long], axis: Int = 0, targetChunk: Int = 65536): GArr = {
    require(axis >= 0 && axis < ndim, s"take: bad axis $axis for ndim $ndim")
    val n = shape(axis)
    // numpy/dask negative-index wrap-around (np.take semantics)
    val indices = indices0.map(i => if (i < 0) i + n else i)
    indices.foreach(i => require(i >= 0 && i < n, s"take: index out of bounds for length $n"))
    val k = indices.length.toLong
    val axisChunk = math.max(1, math.min(targetChunk,
      if (chunks(axis).nonEmpty) chunks(axis).max else targetChunk))
    val outAxisChunks = evenChunks(k, axisChunk)
    val newChunks = chunks.updated(axis, outAxisChunks)
    val outLens = shape.updated(axis, k)
    val S = startsOf(chunks(axis))
    val T = startsOf(outAxisChunks)
    val axisEntries = indices.zipWithIndex.map { case (srcIdx, j) =>
      val ib = Positions.locate(S, srcIdx)
      val jb = Positions.locate(T, j.toLong)
      DimEntry(ib, jb, (srcIdx - S(ib)).toInt, 1L, (j - T(jb)).toInt, 1)
    }.toArray.groupBy(_.ib)
    val tables = Array.tabulate(ndim) { d =>
      if (d == axis) axisEntries
      else chunks(d).indices.map(ib => DimEntry(ib, ib, 0, 1L, 0, chunks(d)(ib)))
        .toArray.groupBy(_.ib)
    }
    GArr(outLens, newChunks, assemble(piecesByTables(tables, newChunks), newChunks))
  }

  /** numpy/dask `compress(condition, axis)` (reference
    * `array/routines.py:2017`): boolean selection along one axis with a
    * driver-held mask — delegates to [[take]].
    */
  def compress(condition: Seq[Boolean], axis: Int = 0, targetChunk: Int = 65536): GArr = {
    require(condition.length.toLong == shape(axis),
      s"compress: mask length ${condition.length} != axis length ${shape(axis)}")
    take(condition.zipWithIndex.collect { case (true, i) => i.toLong }, axis, targetChunk)
  }

  /** Boolean selection along ONE axis with a DISTRIBUTED 1-D mask —
    * `x[:, mask]` where `mask` is itself a chunked array (reference
    * `array/slicing.py:1061` `slice_with_bool_dask_array`, the
    * one-axis form). The mask is rechunk-aligned to this array's axis
    * grid and ranked by [[maskRanks]] (per-block counts: O(axis grid)
    * driver state, never the mask itself); each selected lane is one
    * [[gather]] request against the source blocks sharing its axis
    * coordinate. The result is materialized before return.
    */
  def compressArr(mask: GArr, axis: Int = 0, targetChunk: Int = 65536): GArr = {
    require(axis >= 0 && axis < ndim)
    require(mask.ndim == 1 && mask.shape == Seq(shape(axis)),
      s"compressArr: mask shape ${mask.shape} != axis length ${shape(axis)}")
    val s = spark
    import s.implicits._
    val aligned =
      if (mask.chunks(0) == chunks(axis)) mask
      else mask.regridTo(chunks(axis))
    val axisChunk = math.max(1, math.min(targetChunk,
      if (chunks(axis).nonEmpty) chunks(axis).max else targetChunk))
    maskRanks(aligned) { (k, ranks) =>
      // a 1-D mask block's key is its axis block, its offset the lane
      gather(Seq(axis), axis, evenChunks(k, axisChunk), 1,
        s.createDataset(ranks.map { case (r, ib, off, _) => (ib, r, Array(off)) }))
    }
  }

  /** Rechunk a 1-D array onto EXACT target chunk boundaries (not just a
    * uniform size) — the mask-alignment helper for [[compressArr]].
    */
  private def regridTo(targetChunks: Seq[Int]): GArr = {
    require(ndim == 1 && targetChunks.map(_.toLong).sum == shape(0),
      s"regridTo: target $targetChunks does not tile length ${shape(0)}")
    regrid(Seq((0L, shape(0), 1L)), shape, Seq(targetChunks))
  }

  /** numpy boolean-mask indexing `x[mask]` with a DISTRIBUTED mask of
    * identical shape/chunks (reference `array/slicing.py:1061`
    * `slice_with_bool_dask_array`): selected elements in global C order,
    * flattened to 1-D. [[maskRanks]] ranks the selected positions with
    * their values riding along, and one shuffle packs the ranked values
    * into the output blocks (each task ships one piece per output block
    * its ranks touch). The result is materialized before return — like
    * dask, the unknown output length forces a compute barrier.
    */
  def booleanMask(mask: GArr, targetChunk: Int = 65536): GArr = {
    require(shape == mask.shape && chunks == mask.chunks,
      s"booleanMask requires identical shape/chunks: $shape vs ${mask.shape}")
    val s = spark
    import s.implicits._
    val chunk = math.max(1, targetChunk)
    maskRanks(mask, Some(this)) { (k, ranks) =>
      val packed = ranks.mapPartitions { it =>
        val out = scala.collection.mutable.LinkedHashMap[Long, PieceBuf]()
        it.foreach { case (r, _, _, v) =>
          out.getOrElseUpdate(r / chunk, new PieceBuf(r / chunk, Nil)).add((r % chunk).toInt, v)
        }
        out.valuesIterator.map(p => (p.key, p.toPiece))
      }.groupByKey().map { case (b, ps) =>
        val a = new Array[Double](math.min(chunk.toLong, k - b * chunk).toInt)
        ps.foreach(p => p.offs.indices.foreach(i => a(p.offs(i)) = p.vals(i)))
        ABlock(Seq(b.toInt), a)
      }
      GArr(Seq(k), Seq(evenChunks(k, chunk)), s.createDataset(packed))
    }
  }

  /** Fancy indexing by a DISTRIBUTED integer index array along one axis
    * (reference `array/slicing.py:992` `slice_with_int_dask_array_on_axis`):
    * `x[..., idx, ...]` where `idx` is itself a 1-D [[GArr]] whose values
    * are (integral) positions into this array's `axis`. The output keeps
    * this array's shape with the indexed axis replaced by `idx`'s length
    * and chunks. Negative indices wrap numpy-style. Fully distributed — no
    * index ever reaches the driver: each index entry is one [[gather]]
    * request keyed by its source AXIS block; `salt > 1` is the gather's
    * skew guard for an index that hits one hot block. The scale path when
    * the index is too big to hold driver-side.
    */
  def takeArr(idx: GArr, axis: Int = 0, salt: Int = 1): GArr = {
    require(idx.ndim == 1, "takeArr: index array must be 1-D")
    require(axis >= 0 && axis < ndim, s"takeArr: bad axis $axis for ndim $ndim")
    val s = spark
    import s.implicits._
    val S = startsOf(chunks(axis))
    val n = shape(axis)
    val idxStarts = startsOf(idx.chunks(0))
    val requests = idx.blocks.flatMap { b =>
      val g0 = idxStarts(b.bid(0))
      b.data.indices.map { i =>
        val raw = b.data(i).toLong
        val srcIdx = if (raw < 0) raw + n else raw // numpy negative-index wrap
        require(srcIdx >= 0 && srcIdx < n, s"takeArr: index $raw out of bounds for length $n")
        val ib = Positions.locate(S, srcIdx)
        (ib.toLong, g0 + i, Array((srcIdx - S(ib)).toInt))
      }
    }
    gather(Seq(axis), axis, idx.chunks(0), salt, requests)
  }

  /** The gather co-group under [[takeArr]], [[vindex]], [[compressArr]]
    * and (through [[gatherPieces]]) [[maskedAssign]].
    * Request `(key, gpos, locals)` reads the source point at local
    * offsets `locals` on the indexed `axes` of the source blocks whose
    * indexed-axis block coordinates linearize (in `axes` order) to `key`,
    * and writes it, with every non-indexed lane, to position `gpos` of a
    * point axis (chunked `pointChunks`) placed at `pointAt` among the
    * non-indexed axes.
    *
    * Plan shape, the same for every op on it: ONE exchange co-groups the
    * requests with the source blocks (tag-union keyed `key · salt + gpos
    * mod salt`, each source block replicated `salt` ways — the skew guard
    * when one hot block absorbs most requests: ×salt source bytes, ÷salt
    * requests per task); each request walks its non-indexed lanes into
    * per-destination-block pieces; [[assemble]] packs the output grid in
    * a second exchange. No driver collect, no all-pairs.
    */
  private def gather(axes: Seq[Int], pointAt: Int, pointChunks: Seq[Int], salt: Int,
                     requests: Dataset[(Long, Long, Array[Int])]): GArr = {
    val newChunks = (0 until ndim).filterNot(axes.contains).map(chunks)
      .patch(pointAt, Seq(pointChunks), 0)
    GArr(newChunks.map(_.map(_.toLong).sum), newChunks,
      assemble(gatherPieces(axes, pointAt, pointChunks, salt, requests), newChunks))
  }

  /** [[gather]] up to its pieces: the co-group and the lane walk. */
  private def gatherPieces(axes: Seq[Int], pointAt: Int, pointChunks: Seq[Int], salt: Int,
                           requests: Dataset[(Long, Long, Array[Int])]): Dataset[ScatterPiece] = {
    require(salt >= 1)
    val s = spark
    import s.implicits._
    val nd = ndim
    val g = grid
    val axArr = axes.toArray
    val nonAxes = (0 until nd).filterNot(axes.contains)
    // per base dim: its slot in `locals` (indexed) or its output dim
    val axPos = Array.fill(nd)(-1)
    axes.zipWithIndex.foreach { case (a, i) => axPos(a) = i }
    val outDim = Array.fill(nd)(-1)
    nonAxes.zipWithIndex.foreach { case (d, j) => outDim(d) = if (j < pointAt) j else j + 1 }
    val dstGrid = nonAxes.map(g).patch(pointAt, Seq(pointChunks.length), 0)
    val srcChunksB = chunks.map(_.toArray)
    val bcT = s.sparkContext.broadcast(startsOf(pointChunks))
    val nSalt = salt
    val tagged = blocks.flatMap { b =>
      var kb = 0L
      axArr.foreach(a => kb = kb * g(a) + b.bid(a))
      (0 until nSalt).iterator.map(sl => (kb * nSalt + sl, 0, b.bid, b.data, 0L, Array.empty[Int]))
    }.union(requests.map { case (kb, gpos, locals) =>
      (kb * nSalt + gpos % nSalt, 1, Seq.empty[Int], Array.empty[Double], gpos, locals)
    })
    tagged.groupByKey(_._1).flatMapGroups { (_, it) =>
      val srcs = scala.collection.mutable.ArrayBuffer[(Seq[Int], Array[Double])]()
      val reqs = scala.collection.mutable.ArrayBuffer[(Long, Array[Int])]()
      it.foreach { row =>
        if (row._2 == 0) srcs += ((row._3, row._4)) else reqs += ((row._5, row._6))
      }
      val T = bcT.value
      if (reqs.isEmpty) Iterator.empty
      else srcs.iterator.flatMap { case (bid, data) =>
        val sdims = Array.tabulate(nd)(d => srcChunksB(d)(bid(d)))
        val sstr = cStridesI(sdims)
        val lanes = sdims.clone()
        axArr.foreach(a => lanes(a) = 1)
        val laneTotal = lanes.product
        val out = scala.collection.mutable.LinkedHashMap[Long, PieceBuf]()
        reqs.foreach { case (gpos, locals) =>
          val jb = Positions.locate(T, gpos)
          val dstBid = nonAxes.map(bid).patch(pointAt, Seq(jb), 0)
          val dstr = cStridesI(nonAxes.map(d => sdims(d))
            .patch(pointAt, Seq((T(jb + 1) - T(jb)).toInt), 0).toArray)
          val key = linearBidL(dstBid, dstGrid)
          val buf = out.getOrElseUpdate(key, new PieceBuf(key, dstBid))
          val pOff = (gpos - T(jb)).toInt * dstr(pointAt)
          val t = new Array[Int](nd)
          var q = 0
          while (q < laneTotal) {
            var so = 0; var doff = pOff; var d = 0
            while (d < nd) {
              val ap = axPos(d)
              if (ap >= 0) so += locals(ap) * sstr(d)
              else { so += t(d) * sstr(d); doff += t(d) * dstr(outDim(d)) }
              d += 1
            }
            buf.add(doff, data(so))
            incOdo(t, lanes)
            q += 1
          }
        }
        out.valuesIterator.map(_.toPiece)
      }
    }
  }

  /** The mask ranking under [[booleanMask]], [[maskedAssign]] and
    * [[compressArr]]: ranks every selected (nonzero) position of `mask`
    * in global C order and passes `use` the selected count k and each
    * position's `(rank, mask block key, local offset, value)` — the value
    * of `carried` (same grid as the mask) there, else 0.0. Then it
    * materializes what `use` returns and releases the one cache it made,
    * the per-block selection that the ranking reads twice, also when
    * `use` throws (a rejected k).
    *
    * When block-local order partitions global C order — 1-D, or chunked
    * ONLY along axis 0, where each block is one contiguous C-order range
    * — the ranks are a counts prefix: O(nblocks) per-block counts reach
    * the driver ([[Positions.starts]]), no sort. Otherwise the selected
    * positions sort on their global flat C index and [[Positions.ranked]]
    * numbers them: only the k selected positions ride the sort, never
    * the array.
    */
  private def maskRanks(mask: GArr, carried: Option[GArr] = None)(
      use: (Long, org.apache.spark.rdd.RDD[(Long, Long, Int, Double)]) => GArr): GArr = {
    val s = spark
    import s.implicits._
    val g = mask.grid
    val m = mask.blocks.map(b => (linearBidL(b.bid, g), b.data))
    val paired = carried.fold(m.map { case (key, d) => (key, d, Array.empty[Double]) }) { x =>
      val l = x.blocks.map(b => (linearBidL(b.bid, g), b.data))
      m.joinWith(l, m("_1") === l("_1")).map { case ((key, d), (_, v)) => (key, d, v) }
    }
    // per block: the selected local offsets and the carried values there
    val sel = paired.rdd.map { case (key, d, v) =>
      val offs = scala.collection.mutable.ArrayBuilder.make[Int]
      var i = 0
      while (i < d.length) { if (d(i) != 0.0) offs += i; i += 1 }
      val o = offs.result()
      (key, o, if (v.isEmpty) v else o.map(i => v(i)))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val (k, ranks) =
        if (g.drop(1).forall(_ == 1)) {
          val starts = Positions.starts(
            sel.map { case (key, o, _) => (key.toInt, o.length.toLong) }.collect().toMap, g(0))
          val bc = s.sparkContext.broadcast(starts)
          (starts.last, sel.flatMap { case (key, o, v) =>
            val g0 = bc.value(key.toInt)
            o.indices.iterator.map(i => (g0 + i, key, o(i), if (v.isEmpty) 0.0 else v(i)))
          })
        } else {
          val ga = g.toArray
          val st = mask.chunks.map(startsOf).toArray
          val strides = cStrides(mask.shape)
          val sorted = sel.flatMap { case (key, o, v) =>
            val bid = unravel(key, ga)
            val dims = Array.tabulate(ga.length)(d => chunkDim(st(d), bid(d)))
            o.indices.iterator.map { i =>
              val loc = unravel(o(i), dims)
              var f = 0L; var d = 0
              while (d < dims.length) { f += (st(d)(bid(d)) + loc(d)) * strides(d); d += 1 }
              (f, (key, o(i), if (v.isEmpty) 0.0 else v(i)))
            }
          }.sortByKey()
          val starts = Positions.starts(sorted)
          (starts.last, Positions.ranked(sorted, starts).map { case (r, (_, (key, off, v))) =>
            (r, key, off, v)
          })
        }
      val out = use(k, ranks)
      val outBlocks = out.blocks
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      outBlocks.count() // materialize before the selection cache is released
      out.copy(blocks = outBlocks)
    } finally sel.unpersist()
  }

  /** dask `Array.blocks` / `Array.partitions` (reference
    * `dask/array/core.py:2103` Blockview, `:2143` partitions — for arrays
    * the two are the same accessor): numpy-style indexing over the BLOCK
    * grid — select a per-dimension range of block coordinates and return
    * those whole blocks as a new array.  Narrow: a block-id filter plus a
    * driver-side chunk-metadata slice — no shuffle, no data movement
    * beyond dropping the unselected blocks, so it is the cheap way to
    * iterate or subset a huge array block-by-block at any scale.
    */
  def blocksAt(sel: Seq[Range]): GArr = {
    require(sel.length == ndim, s"blocksAt: ${sel.length} ranges for ndim $ndim")
    sel.zip(grid).zipWithIndex.foreach { case ((r, g), d) =>
      require(r.nonEmpty && r.step == 1 && r.head >= 0 && r.last < g,
        s"blocksAt: range $r outside block grid 0..${g - 1} on dim $d")
    }
    val s = spark
    import s.implicits._
    val newChunks: Seq[Seq[Int]] = chunks.zip(sel).map { case (cs, r) => r.map(cs) }
    val offs = sel.map(_.head).toArray
    val selB = sel.map(r => (r.head, r.last)).toArray
    val keep = blocks
      .filter((b: ABlock) =>
        b.bid.indices.forall(d => b.bid(d) >= selB(d)._1 && b.bid(d) <= selB(d)._2))
      .map(b => ABlock(Seq.tabulate(b.bid.length)(d => b.bid(d) - offs(d)), b.data))
    GArr(newChunks.map(_.map(_.toLong).sum), newChunks, keep)
  }

  /** dask Blockview's general numpy-style form — `x.blocks[[0, 2]]`,
    * `x.blocks[3, ::-1]` (core.py:2103 `Blockview.__getitem__` delegates
    * to normal array indexing over the block grid): an arbitrary integer
    * list of block coordinates per dimension, order preserved, duplicates
    * allowed, negatives wrapping.  Narrow like [[blocksAt]] — one flatMap
    * re-labels (and, for duplicates, re-emits) whole blocks; no shuffle,
    * no element movement.
    */
  def blocksPick(sel: Seq[Seq[Int]]): GArr = {
    require(sel.length == ndim, s"blocksPick: ${sel.length} selections for ndim $ndim")
    val norm: Seq[Array[Int]] = sel.zip(grid).zipWithIndex.map { case ((xs, g), d) =>
      require(xs.nonEmpty, s"blocksPick: empty selection on dim $d")
      xs.map { i0 =>
        val i = if (i0 < 0) i0 + g else i0
        require(i >= 0 && i < g, s"blocksPick: block index $i0 outside grid 0..${g - 1} on dim $d")
        i
      }.toArray
    }
    val s = spark
    import s.implicits._
    val newChunks: Seq[Seq[Int]] = chunks.zip(norm).map { case (cs, xs) => xs.toSeq.map(cs) }
    // per dim: source block id -> every output position it lands at
    val posOf: Seq[Map[Int, Seq[Int]]] = norm.map(_.zipWithIndex
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq })
    val out = blocks.flatMap { b =>
      val perDim = b.bid.zip(posOf).map { case (i, m) => m.getOrElse(i, Seq.empty) }
      if (perDim.exists(_.isEmpty)) Iterator.empty
      else perDim.foldLeft(Iterator.single(Seq.empty[Int]))(
        (acc, ps) => acc.flatMap(pre => ps.iterator.map(pre :+ _)))
        .map(obid => ABlock(obid, b.data))
    }
    GArr(newChunks.map(_.map(_.toLong).sum), newChunks, out)
  }

  /** dask `Array.chunksize`: the nominal (first) chunk size per dimension. */
  def chunksize: Seq[Int] = chunks.map(_.head)

  /** dask `Array.npartitions` (= `math.prod(numblocks)`); `numblocks`
    * itself is [[grid]].
    */
  def npartitions: Long = grid.map(_.toLong).product

  /** dask `Array.itemsize` — the engine is float64-backed. */
  def itemsize: Int = 8

  /** dask `Array.nbytes` — logical payload size, metadata-only. */
  def nbytes: Long = numElements * 8L

  /** numpy/dask coordinate-pointwise fancy indexing — `x.vindex[i0, i1, …]`
    * (reference `dask/array/core.py:2047` `_vindex`, kernel `:5854`
    * `_vindex_array`, docs `:2079`): several integer index arrays,
    * broadcast against each other, select POINTS — output element p reads
    * `x[i0[p], i1[p], …]` on the indexed axes while every non-indexed axis
    * is kept whole.  Result dimension order follows the reference's vindex
    * contract (`core.py:2090`): the broadcast subspace FIRST, then the
    * remaining axes in their original order.  Mixed keys (ints / partial
    * slices alongside the arrays) compose as the reference composes them
    * (`core.py:5817-5832`): apply [[slice]] / [[squeeze]] for the nonfancy
    * part first, then `vindex` on the reduced array.
    *
    * `arrs` maps axis → (index-array shape, C-order flattened entries).
    * Entries wrap numpy-style (negative counts from the end), out-of-bounds
    * raise with numpy's message shape, and the arrays must be mutually
    * broadcastable.  The indexer is DRIVER-held — exactly the reference
    * contract (`core.py:2064` rejects dask-collection indexers: "Call
    * compute on the indexer first") — and its memory cost is the RAW
    * arrays, never the broadcast product: requests are generated
    * distributed from `spark.range(npoints)` against a task broadcast of
    * the raw arrays, with broadcasting resolved per element by 0-stride
    * lookup.  For a distributed indexer along one axis use [[takeArr]].
    *
    * Plan shape: one [[gather]] with the array axes indexed and the
    * points axis first — each request keys by the linearized ARRAY-AXIS
    * block coordinates of its source point, and `salt` spreads a hot
    * block — then a final [[reshape]] unflattens the points axis when the
    * broadcast subspace is multi-dimensional.
    */
  def vindex(arrs: Map[Int, (Seq[Long], Array[Long])],
             targetChunk: Int = 65536, salt: Int = 1): GArr = {
    require(arrs.nonEmpty, "vindex: need at least one index array")
    val axes = arrs.keys.toSeq.sorted
    axes.foreach(a => require(a >= 0 && a < ndim, s"vindex: bad axis $a for ndim $ndim"))
    val s = spark
    import s.implicits._
    // numpy broadcast of the index-array shapes: right-aligned, 1 stretches
    val shapes = axes.map(a => arrs(a)._1)
    val nb = shapes.map(_.length).max
    val bShape: Seq[Long] = Seq.tabulate(nb) { d =>
      val dims = shapes.map { sh =>
        val off = nb - sh.length; if (d < off) 1L else sh(d - off)
      }
      val m = dims.max
      require(dims.forall(x => x == 1L || x == m),
        "vindex: shape mismatch: indexing arrays could not be broadcast " +
          s"together with shapes ${shapes.map(_.mkString("(", ", ", ")")).mkString(" ")}")
      m
    }
    val npoints = bShape.product
    // per-array strides over the broadcast shape (0 on stretched dims)
    val strArr: Array[Array[Long]] = axes.map { a =>
      val sh = arrs(a)._1
      val off = nb - sh.length
      val own = new Array[Long](sh.length)
      var acc = 1L
      var d = sh.length - 1
      while (d >= 0) { own(d) = acc; acc *= sh(d); d -= 1 }
      Array.tabulate(nb)(d => if (d < off || sh(d - off) == 1L) 0L else own(d - off))
    }.toArray
    val bcArrs = s.sparkContext.broadcast(axes.map(a => arrs(a)._2).toArray)
    val nA = axes.length
    val axArr = axes.toArray
    val dimSizes = axes.map(a => shape(a)).toArray
    val S: Array[Array[Long]] = axes.map(a => startsOf(chunks(a))).toArray
    val srcArrGrid: Array[Int] = axes.map(a => grid(a)).toArray
    val bShapeArr = bShape.toArray
    val nbL = nb
    val requests = s.range(npoints).as[Long].mapPartitions { it =>
      val raw = bcArrs.value
      it.map { p =>
        var rem = p
        val bIdx = new Array[Long](nbL)
        var d = nbL - 1
        while (d >= 0) { bIdx(d) = rem % bShapeArr(d); rem /= bShapeArr(d); d -= 1 }
        var keyBlocks = 0L
        val locals = new Array[Int](nA)
        var a = 0
        while (a < nA) {
          var off = 0L
          var dd = 0
          while (dd < nbL) { off += bIdx(dd) * strArr(a)(dd); dd += 1 }
          val rawIdx = raw(a)(off.toInt)
          val n = dimSizes(a)
          val idx = if (rawIdx < 0) rawIdx + n else rawIdx
          require(idx >= 0 && idx < n,
            "vindex key has entries out of bounds for indexing along axis " +
              s"${axArr(a)} of size $n: $rawIdx")
          val ib = Positions.locate(S(a), idx)
          keyBlocks = keyBlocks * srcArrGrid(a) + ib
          locals(a) = (idx - S(a)(ib)).toInt
          a += 1
        }
        (keyBlocks, p, locals)
      }
    }
    val flat = gather(axes, 0, evenChunks(npoints, targetChunk), salt, requests)
    if (nb <= 1) flat
    else {
      val finalShape = bShape ++ flat.shape.tail
      flat.reshape(finalShape, chooseChunks(finalShape, targetChunk).map(_.head))
    }
  }

  /** Mixed-key vindex — the reference's full `x.vindex[key]` surface
    * (`core.py:5797` `_vindex`): integers and slices alongside the index
    * arrays.  Applies the reference's own decomposition
    * (`core.py:5817-5832`): the nonfancy part (ints squeeze, slices
    * reduce) runs first as basic indexing, then [[vindex]] gathers
    * pointwise on the reduced array — so the result is the broadcast
    * subspace of the arrays FIRST, then the surviving slice axes in
    * original order.  Slices are positive-step (the [[slice]] contract);
    * at least one array key is required (the reference likewise rejects
    * an all-slice vindex unless it is the identity, `core.py:2053-2061`).
    */
  def vindexMixed(keys: Seq[VindexKey], targetChunk: Int = 65536,
                  salt: Int = 1): GArr = {
    require(keys.length == ndim, s"vindexMixed: ${keys.length} keys for ndim $ndim")
    require(keys.exists(_.isInstanceOf[VindexKey.A]),
      "vindex requires at least one array key to vectorize over; use slice() for pure slicing")
    // nonfancy pass: one regrid for ints+slices, arrays ride a full slice
    val specs = keys.zip(shape).map {
      case (VindexKey.I(i0), len) =>
        val i = if (i0 < 0) i0 + len else i0
        require(i >= 0 && i < len, s"vindexMixed: index $i0 out of bounds for length $len")
        (i, i + 1, 1L)
      case (VindexKey.S(start, stop, step), len) =>
        require(step > 0 && start >= 0, s"vindexMixed: slice ($start,$stop,$step) must be non-negative positive-step")
        (start, math.min(stop, len), step)
      case (VindexKey.A(_, _), len) => (0L, len, 1L)
    }
    val sliced = slice(specs, targetChunk)
    // squeeze int dims highest-first so lower axis numbers stay valid
    val intDims = keys.zipWithIndex.collect { case (VindexKey.I(_), d) => d }
    val reduced = intDims.sorted.reverse.foldLeft(sliced)((a, d) => a.squeeze(d))
    // renumber the array axes into the reduced (int-squeezed) rank
    val arrs = keys.zipWithIndex.collect { case (VindexKey.A(sh, idx), d) =>
      val newAxis = d - intDims.count(_ < d)
      newAxis -> ((sh, idx))
    }.toMap
    reduced.vindex(arrs, targetChunk, salt)
  }

  /** numpy fancy setitem `x[..., idx, ...] = value` along `axis` with BOTH
    * the integer index and the values distributed (reference
    * `array/slicing.py:1464` `setitem_array`, the int-array-index branch).
    * ndim base, ANY axis, ANY-ndim index array (the ndim form is numpy
    * generality beyond the reference, whose `parse_assignment_indices`
    * stops at 1-D — `slicing.py:1390`): an ndim index flattens to C order,
    * exactly numpy's sequential write order, so `value.shape ==
    * x.shape[:axis] ++ idx.shape ++ x.shape[axis+1:]` and duplicate
    * indices resolve LAST-wins in flattened index order. Implemented as
    * the all-full-slices case of [[updatedAt]].
    */
  def updatedFancy(idx: GArr, value: GArr, axis: Int = 0): GArr = {
    require(axis >= 0 && axis < ndim, s"updatedFancy: bad axis $axis for ndim $ndim")
    updatedAt(Seq.tabulate(ndim)(d =>
      if (d == axis) AssignIdx.Ix(idx) else AssignIdx.All), value)
  }

  /** numpy mixed-tuple setitem `x[i0, i1, ...] = value` (reference
    * `slicing.py:1464` `setitem_array` over `parse_assignment_indices`
    * `slicing.py:1236`): one [[AssignIdx]] per base dimension — an integer
    * (squeezed from the value's shape), a Python-semantics slice (negative
    * start/stop/step supported), an integer index array, or a 1-D boolean
    * mask. At most ONE array/mask index per assignment — the reference
    * contract (`slicing.py:1390` raises beyond one) — but that array may
    * be ANY ndim (numpy generality): it flattens to C order, numpy's
    * sequential write order. `value.shape` must equal the implied
    * selection shape (integer dims squeezed, slice dims their count, the
    * array contributing its full shape).
    *
    * Plan shape: writes are generated per VALUE block — each element's
    * target coordinate is affine on slice dims (per-dim lane tables,
    * precomputed once per block) and index-driven on the array dim (ONE
    * co-partitioned join of index chunks with value chunks on the
    * array-dim block id) — packed per destination block, reduced
    * last-wins by flattened index order, and applied with one overlay
    * co-group onto the original blocks. Shuffle volume is O(|value|)
    * writes + the base pass; nothing driver-side, so the op scales with
    * chunk count, not array size. Unlike the round-10 form, off-axis
    * value chunking is free (targets resolve per element), so no off-axis
    * rechunk is ever issued.
    */
  def updatedAt(indices: Seq[AssignIdx], value: GArr): GArr = {
    require(indices.length == ndim,
      s"updatedAt: ${indices.length} indices for ndim $ndim")
    // boolean masks resolve to their selected positions (reference bool-1d
    // branch: one narrow nonzero scan, then the integer-array machinery)
    val resolved: Seq[AssignIdx] = indices.zipWithIndex.map {
      case (AssignIdx.Bx(m), d) =>
        require(m.ndim == 1 && m.shape(0) == shape(d),
          s"updatedAt: boolean index on dim $d must be 1-D of length ${shape(d)}")
        AssignIdx.Ix(ArrayRoutines.flatnonzero(m,
          chunk = math.max(1, chunks(d).max)))
      case (other, _) => other
    }
    require(resolved.count(_.isInstanceOf[AssignIdx.Ix]) <= 1,
      "updatedAt: at most one dimension's index may be an array " +
        "(reference parse_assignment_indices contract)")
    val specs = new Array[(Long, Long, Long)](ndim) // resolved slice per dim
    val lens = new Array[Long](ndim)                // per-dim selection length
    val squeezed = new Array[Boolean](ndim)         // integer dims (absent in value)
    var arrIdx: GArr = null
    var ax = -1
    resolved.zipWithIndex.foreach {
      case (AssignIdx.Pt(i0), d) =>
        val i = if (i0 < 0) i0 + shape(d) else i0
        require(i >= 0 && i < shape(d),
          s"updatedAt: index $i0 out of bounds on dim $d (length ${shape(d)})")
        specs(d) = (i, i + 1, 1); lens(d) = 1; squeezed(d) = true
      case (AssignIdx.Sl(st0, sp0, step), d) =>
        val (st, sp, cnt) = resolveSlice(st0, sp0, step, shape(d))
        specs(d) = (st, sp, step); lens(d) = cnt
      case (AssignIdx.Ix(ix), d) =>
        require(ix.ndim >= 1, "updatedAt: index array cannot be 0-d")
        arrIdx = ix; ax = d; lens(d) = ix.numElements
      case (AssignIdx.Bx(_), _) =>
        throw new IllegalStateException("boolean index resolved above")
    }
    val implied: Seq[Long] = resolved.zipWithIndex.flatMap {
      case (AssignIdx.Pt(_), _)  => Nil
      case (AssignIdx.Ix(ix), _) => ix.shape
      case (_, d)                => Seq(lens(d))
    }
    require(value.shape == implied,
      s"updatedAt: value shape ${value.shape} must be the selection shape $implied")
    if (lens.exists(_ == 0)) return this // empty selection: no-op
    // normalize value to one dim per base dim: flatten an ndim index's dims
    // to one, then re-insert the squeezed integer dims as size-1
    var v = value
    if (ax >= 0 && arrIdx.ndim != 1) {
      val before = (0 until ax).count(d => !squeezed(d))
      val collapsedChunk = math.max(1, math.min(arrIdx.numElements, 65536L).toInt)
      v = v.reshape(
        v.shape.patch(before, Seq(arrIdx.numElements), arrIdx.ndim),
        v.chunks.map(_.max).patch(before, Seq(collapsedChunk), arrIdx.ndim))
      arrIdx = arrIdx.reshape(Seq(arrIdx.numElements), Seq(collapsedChunk))
    }
    for (d <- 0 until ndim if squeezed(d)) v = v.expandDims(d)
    if (ax < 0) {
      // pure integer/slice assignment: descending slices flip the value and
      // ride the ascending twin (the reference's negative-step transform,
      // slicing.py:1347) into the existing stepped-run scatter
      var vv = v
      val pos = Seq.tabulate(ndim) { d =>
        val (st, sp, step) = specs(d)
        if (step > 0) (st, sp, step)
        else {
          vv = vv.flipAxis(d)
          (st + (lens(d) - 1) * step, st + 1, -step)
        }
      }
      updatedSlice(pos, vv)
    } else scatterAssignCore(specs, ax, arrIdx, v)
  }

  /** Scalar-RHS form of [[updatedAt]] — `x[i0, i1, ...] = c`, the
    * reference's broadcast-a-scalar branch. Pure integer/slice tuples take
    * the in-place stepped-fill path (no value array at all, no shuffle);
    * with an array index the scalar expands to a constant value array
    * chunked like the base (the write volume is the selection size either
    * way — every selected element must be overwritten).
    */
  def updatedAt(indices: Seq[AssignIdx], scalar: Double): GArr = {
    require(indices.length == ndim,
      s"updatedAt: ${indices.length} indices for ndim $ndim")
    val hasArray = indices.exists(i =>
      i.isInstanceOf[AssignIdx.Ix] || i.isInstanceOf[AssignIdx.Bx])
    if (!hasArray) {
      // scalar fill is orientation-free: descending slices just use their
      // ascending twin directly, no flip needed
      val pos = indices.zipWithIndex.map {
        case (AssignIdx.Pt(i0), d) =>
          val i = if (i0 < 0) i0 + shape(d) else i0
          require(i >= 0 && i < shape(d),
            s"updatedAt: index $i0 out of bounds on dim $d (length ${shape(d)})")
          (i, i + 1, 1L)
        case (AssignIdx.Sl(st0, sp0, step), d) =>
          val (st, sp, cnt) = resolveSlice(st0, sp0, step, shape(d))
          if (step > 0) (st, sp, step)
          else (st + (cnt - 1) * step, st + 1, -step)
        case _ => throw new IllegalStateException("no array index here")
      }
      if (pos.exists { case (st, sp, _) => sp <= st }) this
      else updatedSlice(pos, scalar)
    } else {
      // resolve masks first so the implied shape is concrete
      val resolved = indices.zipWithIndex.map {
        case (AssignIdx.Bx(m), d) =>
          require(m.ndim == 1 && m.shape(0) == shape(d),
            s"updatedAt: boolean index on dim $d must be 1-D of length ${shape(d)}")
          AssignIdx.Ix(ArrayRoutines.flatnonzero(m,
            chunk = math.max(1, chunks(d).max)))
        case (other, _) => other
      }
      val implied: Seq[Long] = resolved.zipWithIndex.flatMap {
        case (AssignIdx.Pt(_), _)  => Nil
        case (AssignIdx.Ix(ix), _) => ix.shape
        case (AssignIdx.Sl(st0, sp0, step), d) =>
          Seq(resolveSlice(st0, sp0, step, shape(d))._3)
        case (AssignIdx.Bx(_), _) =>
          throw new IllegalStateException("boolean index resolved above")
      }
      if (implied.contains(0L)) return this
      // constant value array, chunked like the base on surviving dims
      val baseCh = resolved.zipWithIndex.flatMap {
        case (AssignIdx.Pt(_), _) => Nil
        case (AssignIdx.Ix(ix), _) => ix.chunks.map(_.max)
        case (_, d) => Seq(chunks(d).max)
      }
      val chPick = implied.zip(baseCh).map { case (l, c) =>
        math.max(1, math.min(l, c.toLong).toInt)
      }
      updatedAt(resolved, GArr.full(spark, implied, chPick, scalar))
    }
  }

  /** Python `slice.indices` resolution: negative start/stop count from the
    * end, bounds clamp by step direction; returns (start, stop, count).
    */
  private def resolveSlice(start0: Long, stop0: Long, step: Long,
                           len: Long): (Long, Long, Long) = {
    require(step != 0, "updatedAt: slice step cannot be zero")
    def norm(x: Long) = if (x < 0) x + len else x
    if (step > 0) {
      val st = math.min(math.max(norm(start0), 0L), len)
      val sp = math.min(math.max(norm(stop0), 0L), len)
      (st, sp, math.max(0L, ceilDiv(sp - st, step)))
    } else {
      val st = math.min(math.max(norm(start0), -1L), len - 1)
      val sp = math.min(math.max(norm(stop0), -1L), len - 1)
      val cnt = if (st <= sp) 0L else (st - sp - step - 1) / (-step)
      (st, sp, cnt)
    }
  }

  /** Write-piece generation for the one-array-dim case of [[updatedAt]]:
    * slice dims map affinely through per-dim lane tables, the array dim
    * through the joined index chunk; duplicate indices resolve last-wins
    * keyed by the write's global position in the (flattened) index —
    * numpy's sequential-store order.
    */
  private def scatterAssignCore(specs: Array[(Long, Long, Long)], axis: Int,
                                idx: GArr, value: GArr): GArr = {
    val s = spark
    import s.implicits._
    val ax = axis
    val nd = ndim
    val n = shape(ax)
    // the join key is the array-dim block id: align value's chunks there
    // (off-axis chunking stays as-is — targets resolve per element)
    val vAligned =
      if (value.chunks(ax) == idx.chunks(0)) value
      else value.rechunkTo(value.chunks.updated(ax, idx.chunks(0)))
    val idxStarts = startsOf(idx.chunks(0))
    val SB: Array[Array[Long]] = chunks.map(startsOf).toArray
    val vStartsB: Array[Array[Long]] = vAligned.chunks.map(startsOf).toArray
    val srcChunksB = chunks.map(_.toArray).toArray
    val g = grid
    val specsB = specs
    val l = idx.blocks.map(b => (b.bid(0), b.data))
    val r = vAligned.blocks.map(b => (b.bid(ax), b.bid, b.data))
    // packed per (value block -> target block) write pieces carrying the
    // flattened index order of each write for last-wins resolution
    val writes = l.joinWith(r, l("_1") === r("_1"))
      .flatMap { case ((j, ixs), (_, vbid, vdata)) =>
        val g0 = idxStarts(j)
        val vdims = Array.tabulate(nd)(d =>
          (vStartsB(d)(vbid(d) + 1) - vStartsB(d)(vbid(d))).toInt)
        val vstr = cStridesI(vdims)
        // per-dim lane tables: local value position -> (target block, local)
        val laneTb = new Array[Array[Int]](nd)
        val laneTl = new Array[Array[Int]](nd)
        var d = 0
        while (d < nd) {
          val tb = new Array[Int](vdims(d)); val tl = new Array[Int](vdims(d))
          if (d == ax) {
            var i = 0
            while (i < vdims(d)) {
              val raw = ixs(i).toLong
              val tgt = if (raw < 0) raw + n else raw // numpy negative wrap
              require(tgt >= 0 && tgt < n,
                s"updatedAt: index $raw out of bounds for length $n")
              val xb = Positions.locate(SB(d), tgt)
              tb(i) = xb; tl(i) = (tgt - SB(d)(xb)).toInt
              i += 1
            }
          } else {
            val (st0, _, step) = specsB(d)
            val vg0 = vStartsB(d)(vbid(d))
            var i = 0
            while (i < vdims(d)) {
              val tgt = st0 + (vg0 + i) * step
              val xb = Positions.locate(SB(d), tgt)
              tb(i) = xb; tl(i) = (tgt - SB(d)(xb)).toInt
              i += 1
            }
          }
          laneTb(d) = tb; laneTl(d) = tl
          d += 1
        }
        // destination strides cached per destination block
        val dstrCache = scala.collection.mutable.HashMap[Long, Array[Int]]()
        val out = scala.collection.mutable.LinkedHashMap[Long, (Seq[Int],
          scala.collection.mutable.ArrayBuilder[Int],
          scala.collection.mutable.ArrayBuilder[Double],
          scala.collection.mutable.ArrayBuilder[Long])]()
        val t = new Array[Int](nd)
        val dstBid = new Array[Int](nd)
        val total = vdims.product
        var p = 0
        while (p < total) {
          var key = 0L; var so = 0; var d2 = 0
          while (d2 < nd) {
            val b2 = laneTb(d2)(t(d2))
            dstBid(d2) = b2
            key = key * g(d2) + b2
            so += t(d2) * vstr(d2)
            d2 += 1
          }
          val dstr = dstrCache.getOrElseUpdate(key,
            cStridesI(Array.tabulate(nd)(dd => srcChunksB(dd)(dstBid(dd)))))
          var doff = 0; var d3 = 0
          while (d3 < nd) { doff += laneTl(d3)(t(d3)) * dstr(d3); d3 += 1 }
          val slot = out.getOrElseUpdate(key, (dstBid.toVector,
            scala.collection.mutable.ArrayBuilder.make[Int],
            scala.collection.mutable.ArrayBuilder.make[Double],
            scala.collection.mutable.ArrayBuilder.make[Long]))
          slot._2 += doff; slot._3 += vdata(so); slot._4 += (g0 + t(ax))
          incOdo(t, vdims)
          p += 1
        }
        out.iterator.map { case (key, (bid, offs, vals, ords)) =>
          (key, bid, offs.result(), vals.result(), ords.result())
        }
      }
    val pieces = writes.groupByKey(_._1).mapGroups { (key, it) =>
      val best = scala.collection.mutable.HashMap[Int, (Long, Double)]()
      var bid: Seq[Int] = null
      it.foreach { case (_, pbid, offs, vals, ords) =>
        bid = pbid
        var i = 0
        while (i < offs.length) {
          val cur = best.get(offs(i))
          if (cur.isEmpty || cur.get._1 < ords(i)) best(offs(i)) = (ords(i), vals(i))
          i += 1
        }
      }
      val buf = new PieceBuf(key, bid)
      best.foreach { case (off, (_, v)) => buf.add(off, v) }
      buf.toPiece
    }
    overlay(pieces)
  }

  /** numpy masked setitem `x[mask] = values` with an ARRAY right-hand side
    * (reference `array/slicing.py:1464` `setitem_array`, the bool-index
    * branch; the scalar form is [[maskedFill]]). ndim base; mask has this
    * array's shape/chunks; `values` is 1-D of length = selected count,
    * consumed in global C order of the selected positions.
    * [[maskRanks]] ranks the selected positions; a [[gather]] co-group
    * over `values` (keyed by VALUE block) fetches each rank's value
    * straight into pieces of this array's blocks, and the pieces overlay
    * onto the original blocks. The result is materialized before return.
    */
  def maskedAssign(mask: GArr, values: GArr): GArr = {
    require(values.ndim == 1, "maskedAssign: values must be 1-D")
    require(shape == mask.shape && chunks == mask.chunks,
      s"maskedAssign requires identical base/mask shape+chunks: $shape vs ${mask.shape}")
    val s = spark
    import s.implicits._
    val V = startsOf(values.chunks(0))
    // the gather's point axis runs through this array's blocks in linear
    // order (O(nblocks) driver metadata), so position B(key) + off is
    // local offset off of block `key` and the gather's piece keys are the
    // overlay's block keys
    val blockSizes = chunks.foldLeft(Seq(1))((acc, cs) => for (a <- acc; c <- cs) yield a * c)
    val bcB = s.sparkContext.broadcast(startsOf(blockSizes))
    maskRanks(mask) { (k, ranks) =>
      require(values.shape == Seq(k),
        s"maskedAssign: values length ${values.shape.head} != selected count $k")
      overlay(values.gatherPieces(Seq(0), 0, blockSizes, 1,
        s.createDataset(ranks.map { case (r, key, off, _) =>
          val vb = Positions.locate(V, r)
          (vb.toLong, bcB.value(key.toInt) + off, Array((r - V(vb)).toInt))
        })))
    }
  }

  /** numpy `__setitem__` with a scalar — `x[start:stop:step, ...] = v`
    * (reference `array/slicing.py:2030` `setitem`). Pure narrow map: each
    * block overwrites its own positions that fall inside the slice; zero
    * shuffle at any scale.
    */
  def updatedSlice(specs: Seq[(Long, Long, Long)], scalar: Double): GArr = {
    require(specs.length == ndim)
    specs.zip(shape).foreach { case ((start, _, step), len) =>
      require(start >= 0 && step > 0 && start <= len, s"bad slice ($start,_,$step) on dim $len")
    }
    val st = chunks.map(startsOf)
    val nd = ndim
    mapBlocks { (bid, data) =>
      // per-dim local offsets of this block's positions inside the slice
      val hits: Array[Array[Int]] = Array.tabulate(nd) { d =>
        val (start, stop0, step) = specs(d)
        val stop = math.min(stop0, shape(d))
        val g0 = st(d)(bid(d))
        val dim = chunkDim(st(d), bid(d))
        val b = scala.collection.mutable.ArrayBuilder.make[Int]
        var i = 0
        while (i < dim) {
          val gidx = g0 + i
          if (gidx >= start && gidx < stop && (gidx - start) % step == 0) b += i
          i += 1
        }
        b.result()
      }
      if (hits.exists(_.isEmpty)) data // block misses the slice: no copy
      else {
        val out = data.clone()
        val dims = Array.tabulate(nd)(d => chunkDim(st(d), bid(d)))
        val str = cStridesI(dims)
        val cnts = hits.map(_.length)
        val t = new Array[Int](nd)
        val total = cnts.product
        var i = 0
        while (i < total) {
          var off = 0; var d = 0
          while (d < nd) { off += hits(d)(t(d)) * str(d); d += 1 }
          out(off) = scalar
          incOdo(t, cnts)
          i += 1
        }
        out
      }
    }
  }

  /** numpy `__setitem__` with an array value — `x[start:stop:step, ...] =
    * value` where `value.shape` equals the slice's output shape (reference
    * `array/slicing.py:1464` `setitem_array`). The value array scatters
    * into `this`'s OWN chunk grid (per-dim run tables with a stepped
    * destination), then one tag-union co-group overlays the pieces onto
    * the original blocks — a single exchange carrying original + value
    * bytes, nothing driver-side.
    */
  def updatedSlice(specs: Seq[(Long, Long, Long)], value: GArr): GArr = {
    require(specs.length == ndim && value.ndim == ndim)
    val outLens = specs.zip(shape).map { case ((start, stop0, step), len) =>
      val stop = math.min(stop0, len)
      require(start >= 0 && step > 0 && start <= len, s"bad slice ($start,$stop0,$step)")
      math.max(0L, (stop - start + step - 1) / step)
    }
    require(outLens == value.shape,
      s"updatedSlice: value shape ${value.shape} != slice shape $outLens")
    val vStarts = value.chunks.map(startsOf)
    val xStarts = chunks.map(startsOf)
    // per dim: value block -> runs landing in x's grid (stepped dst)
    val tables: Array[Map[Int, Array[DimEntry]]] = Array.tabulate(ndim) { d =>
      val (start, _, step) = specs(d)
      val V = vStarts(d); val X = xStarts(d)
      val entries = scala.collection.mutable.ArrayBuffer[DimEntry]()
      var jb = 0
      while (jb < chunks(d).length) {
        var ib = 0
        while (ib < value.chunks(d).length) {
          // value positions j in value block ib whose target start+j*step
          // falls in x block jb
          val jLo = math.max(V(ib), ceilDiv(X(jb) - start, step))
          val jHi = math.min(V(ib + 1), ceilDiv(X(jb + 1) - start, step))
          if (jLo < jHi)
            entries += DimEntry(ib, jb, (jLo - V(ib)).toInt, 1L,
              (start + jLo * step - X(jb)).toInt, (jHi - jLo).toInt, step.toInt)
          ib += 1
        }
        jb += 1
      }
      entries.toArray.groupBy(_.ib)
    }
    overlay(value.piecesByTables(tables, chunks))
  }

  /** Apply [[ScatterPiece]]s as point overwrites onto this array's own
    * blocks: tag-union + groupByKey on the numeric block id (ONE exchange;
    * untouched blocks pass through).
    */
  private def overlay(pieces: Dataset[ScatterPiece]): GArr = {
    val s = spark
    import s.implicits._
    val g = grid
    val tagged = blocks.map(b => (linearBidL(b.bid, g), 0, b.bid, Array.empty[Int], b.data))
      .union(pieces.map(p => (p.key, 1, p.bid, p.offs, p.vals)))
    copy(blocks = tagged.groupByKey(_._1).mapGroups { (_, it) =>
      var base: Array[Double] = null
      var bid: Seq[Int] = null
      val ps = scala.collection.mutable.ArrayBuffer[(Array[Int], Array[Double])]()
      it.foreach { row =>
        if (row._2 == 0) { base = row._5; bid = row._3 }
        else ps += ((row._4, row._5))
      }
      require(base != null, "overlay: missing base block")
      if (ps.isEmpty) ABlock(bid, base)
      else {
        val out = base.clone()
        ps.foreach { case (offs, vals) =>
          var i = 0
          while (i < offs.length) { out(offs(i)) = vals(i); i += 1 }
        }
        ABlock(bid, out)
      }
    })
  }

  /** Shared engine for slice+rechunk: per-dimension piece tables are built
    * on the driver (O(grid), not O(elements)), broadcast, and each source
    * block emits the cartesian product of its per-dim entries as packed
    * value pieces; one groupByKey assembles destination blocks.
    */
  private def regrid(specs: Seq[(Long, Long, Long)], outLens: Seq[Long],
                     newChunks: Seq[Seq[Int]]): GArr = {
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val dstStarts = newChunks.map(startsOf)
    // per dim: src block -> entries (dst block, src local start, step, dst local start, count)
    val tables: Array[Map[Int, Array[DimEntry]]] = Array.tabulate(nd) { d =>
      val (start, _, step) = specs(d)
      val S = srcStarts(d); val T = dstStarts(d)
      val entries = scala.collection.mutable.ArrayBuffer[DimEntry]()
      var jb = 0
      while (jb < newChunks(d).length) {
        var ib = 0
        while (ib < chunks(d).length) {
          // output positions j whose source index start+j*step falls in src block ib
          val jLo1 = ceilDiv(S(ib) - start, step)
          val jHi1 = ceilDiv(S(ib + 1) - start, step)
          val jLo = math.max(math.max(T(jb), jLo1), 0L)
          val jHi = math.min(math.min(T(jb + 1), jHi1), outLens(d))
          if (jLo < jHi)
            entries += DimEntry(ib, jb, (start + jLo * step - S(ib)).toInt, step,
              (jLo - T(jb)).toInt, (jHi - jLo).toInt)
          ib += 1
        }
        jb += 1
      }
      entries.toArray.groupBy(_.ib)
    }
    GArr(outLens, newChunks, assemble(piecesByTables(tables, newChunks), newChunks))
  }

  /** Piece generator shared by slice/rechunk/take/setitem: given per-dim
    * tables (src block → [[DimEntry]] runs into a destination chunk grid),
    * each source block emits packed value pieces keyed by destination
    * block. Pieces targeting the same destination block are coalesced
    * LOCALLY before the shuffle (one record per (src,dst) block pair, not
    * one per run) — this is what keeps element-level tables (fancy `take`)
    * from shipping one shuffle record per element.
    */
  private def piecesByTables(tables: Array[Map[Int, Array[DimEntry]]],
                             newChunks: Seq[Seq[Int]]): Dataset[ScatterPiece] = {
    val s = spark
    import s.implicits._
    val nd = ndim
    val bc = s.sparkContext.broadcast(tables)
    val srcChunksB = chunks.map(_.toArray)
    val newChunksB = newChunks.map(_.toArray)
    val dstGrid = newChunks.map(_.length)
    blocks.flatMap { b =>
      val tabs = bc.value
      val perDim: Array[Array[DimEntry]] =
        Array.tabulate(nd)(d => tabs(d).getOrElse(b.bid(d), Array.empty[DimEntry]))
      if (perDim.exists(_.isEmpty)) Iterator.empty
      else {
        val sdims = Array.tabulate(nd)(d => srcChunksB(d)(b.bid(d)))
        val sstr = cStridesI(sdims)
        val sel = new Array[Int](nd) // odometer over entry choices per dim
        val out = scala.collection.mutable.LinkedHashMap[Long, PieceBuf]()
        var more = true
        while (more) {
          val es = Array.tabulate(nd)(d => perDim(d)(sel(d)))
          val dstBid = es.map(_.jb).toSeq
          val key = linearBidL(dstBid, dstGrid)
          val ddims = Array.tabulate(nd)(d => newChunksB(d)(dstBid(d)))
          val dstr = cStridesI(ddims)
          val cnts = es.map(_.cnt)
          val total = cnts.product
          val buf = out.getOrElseUpdate(key, new PieceBuf(key, dstBid))
          val t = new Array[Int](nd)
          var i = 0
          while (i < total) {
            var so = 0; var dofs = 0; var d = 0
            while (d < nd) {
              so += (es(d).src0 + t(d) * es(d).step.toInt) * sstr(d)
              dofs += (es(d).dst0 + t(d) * es(d).dstStep) * dstr(d)
              d += 1
            }
            buf.add(dofs, b.data(so))
            incOdo(t, cnts)
            i += 1
          }
          more = incOdo(sel, perDim.map(_.length))
        }
        out.valuesIterator.map(_.toPiece)
      }
    }
  }

  /** C-order `reshape` (reference `array/reshape.py`): every element keeps
    * its global flat index; source blocks walk their rows (each row is
    * flat-contiguous globally) and scatter values to the destination grid
    * in one shuffle. O(1) state per element, nothing driver-side.
    */
  def reshape(newShape: Seq[Long], newChunkSizes: Seq[Int]): GArr = {
    require(newShape.product == numElements,
      s"reshape $shape -> $newShape changes element count")
    val s = spark
    import s.implicits._
    val newChunks = newShape.zip(newChunkSizes).map { case (l, c) => evenChunks(l, c) }
    val srcStarts = chunks.map(startsOf)
    val srcShape = shape
    val dstShape = newShape.toArray
    val dstStartsB = newChunks.map(startsOf).toArray
    val ndS = ndim
    val pieces: Dataset[ScatterPiece] = blocks.flatMap { b =>
      val dims = Array.tabulate(ndS)(d => chunkDim(srcStarts(d), b.bid(d)))
      val gstart = Array.tabulate(ndS)(d => srcStarts(d)(b.bid(d)))
      val sstrides = cStrides(srcShape)
      // destination walker state (advanced once per element, in flat order
      // per contiguous run)
      val walker = new FlatWalker(dstShape, dstStartsB)
      val bufs = scala.collection.mutable.LinkedHashMap[Long, PieceBuf]()
      val loc = new Array[Int](ndS)
      val rowLen = if (ndS == 0) 1 else dims(ndS - 1)
      val nRows = dims.product / math.max(rowLen, 1)
      var r = 0
      var iFlatSrcRow = 0
      while (r < nRows) {
        // global flat index of the row start
        var f0 = 0L
        var d = 0
        while (d < ndS) { f0 += (gstart(d) + loc(d)) * sstrides(d); d += 1 }
        walker.seek(f0)
        var t = 0
        while (t < rowLen) {
          val buf = bufs.getOrElseUpdate(walker.bidKey,
            new PieceBuf(walker.bidKey, walker.bidSnapshot))
          buf.add(walker.localOff, b.data(iFlatSrcRow * rowLen + t))
          walker.advance()
          t += 1
        }
        // advance src odometer by one row (skip last dim)
        if (ndS >= 2) incOdo(loc, dims, ndS - 2) else loc(0) = 0
        r += 1
        iFlatSrcRow += 1
      }
      bufs.valuesIterator.map(_.toPiece)
    }
    GArr(newShape, newChunks, assemble(pieces, newChunks))
  }

  /** `transpose`/`swapaxes` (reference `array/routines.py:170-196`):
    * pure narrow map — each source block maps to exactly one destination
    * block with locally permuted data. Zero shuffle at any scale.
    */
  def transpose(perm: Seq[Int]): GArr = {
    require(perm.sorted == (0 until ndim), s"bad permutation $perm")
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val permL = perm.toArray
    val out = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val sstr = cStridesI(sdims)
      val ddims = Array.tabulate(nd)(j => sdims(permL(j)))
      val total = b.data.length
      val o = new Array[Double](total)
      val t = new Array[Int](nd)
      var i = 0
      while (i < total) {
        var so = 0; var j = 0
        while (j < nd) { so += t(j) * sstr(permL(j)); j += 1 }
        o(i) = b.data(so)
        incOdo(t, ddims)
        i += 1
      }
      ABlock(permL.toSeq.map(b.bid), o)
    }
    GArr(perm.map(shape), perm.map(chunks), out)
  }

  /** Reduce one axis away (sum) — the axis-reduction shape of
    * `reductions.py` specialized to sum: per-block partial along `axis`
    * (map-side), then one shuffle keyed by the remaining block coords.
    */
  def sumAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = 0.0,
      (acc, o, v, _) => acc(o) += v,
      (acc, other, o) => acc(o) += other(o),
      (acc, o) => acc(o))

  /** numpy/dask `min`/`max` along an axis, NaN-propagating like numpy. */
  def minAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = Double.PositiveInfinity,
      (acc, o, v, _) => if (v.isNaN || v < acc(o)) acc(o) = if (acc(o).isNaN) acc(o) else v,
      (acc, other, o) => if (other(o).isNaN || other(o) < acc(o)) acc(o) = if (acc(o).isNaN) acc(o) else other(o),
      (acc, o) => acc(o))

  def maxAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = Double.NegativeInfinity,
      (acc, o, v, _) => if (v.isNaN || v > acc(o)) acc(o) = if (acc(o).isNaN) acc(o) else v,
      (acc, other, o) => if (other(o).isNaN || other(o) > acc(o)) acc(o) = if (acc(o).isNaN) acc(o) else other(o),
      (acc, o) => acc(o))

  def meanAxis(axis: Int): GArr = {
    val n = shape(axis).toDouble
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = 0.0,
      (acc, o, v, _) => acc(o) += v,
      (acc, other, o) => acc(o) += other(o),
      (acc, o) => acc(o) / n)
  }

  /** Population (ddof=0) variance along an axis via per-cell (Σx, Σx²)
    * power sums — the reference's `moment_chunk/agg` shape
    * (`array/reductions.py:70-960`) with width-2 cells.
    */
  def varAxis(axis: Int, ddof: Int = 0): GArr = {
    val n = shape(axis).toDouble
    axisAgg(axis, 2)(
      (acc, o) => { acc(o) = 0.0; acc(o + 1) = 0.0 },
      (acc, o, v, _) => { acc(o) += v; acc(o + 1) += v * v },
      (acc, other, o) => { acc(o) += other(o); acc(o + 1) += other(o + 1) },
      (acc, o) => { val m = acc(o) / n; (acc(o + 1) - n * m * m) / (n - ddof) })
  }

  def stdAxis(axis: Int, ddof: Int = 0): GArr =
    varAxis(axis, ddof).scalarMap(math.sqrt)

  def nanstdAxis(axis: Int, ddof: Int = 0): GArr =
    nanvarAxis(axis, ddof).scalarMap(math.sqrt)

  /** numpy `ptp` (peak-to-peak, max − min) along an axis: one width-2
    * cell pass.
    */
  def ptpAxis(axis: Int): GArr =
    axisAgg(axis, 2)(
      (acc, o) => { acc(o) = Double.PositiveInfinity; acc(o + 1) = Double.NegativeInfinity },
      (acc, o, v, _) => {
        if (v.isNaN || v < acc(o)) acc(o) = if (acc(o).isNaN) acc(o) else v
        if (v.isNaN || v > acc(o + 1)) acc(o + 1) = if (acc(o + 1).isNaN) acc(o + 1) else v
      },
      (acc, other, o) => {
        if (other(o).isNaN || other(o) < acc(o)) acc(o) = if (acc(o).isNaN) acc(o) else other(o)
        if (other(o + 1).isNaN || other(o + 1) > acc(o + 1)) acc(o + 1) = if (acc(o + 1).isNaN) acc(o + 1) else other(o + 1)
      },
      (acc, o) => acc(o + 1) - acc(o))

  /** numpy `argmin`/`argmax` along an axis (first occurrence wins ties,
    * NaN wins like numpy); returns the winning global axis coordinate.
    * The merge tiebreak is the lower coordinate, so the result is
    * deterministic under any partial-combine order.
    */
  def argminAxis(axis: Int): GArr = argAxis(axis, lt = true)
  def argmaxAxis(axis: Int): GArr = argAxis(axis, lt = false)

  private def argAxis(axis: Int, lt: Boolean): GArr = {
    def better(v: Double, best: Double): Boolean =
      if (best.isNaN) false
      else if (v.isNaN) true
      else if (lt) v < best else v > best
    axisAgg(axis, 2)(
      (acc, o) => { acc(o) = if (lt) Double.PositiveInfinity else Double.NegativeInfinity; acc(o + 1) = -1.0 },
      (acc, o, v, c) =>
        if (acc(o + 1) < 0 || better(v, acc(o)) ||
            (sameKey(v, acc(o)) && c < acc(o + 1))) { acc(o) = v; acc(o + 1) = c.toDouble },
      (acc, other, o) =>
        if (acc(o + 1) < 0 || (other(o + 1) >= 0 && (better(other(o), acc(o)) ||
            (sameKey(other(o), acc(o)) && other(o + 1) < acc(o + 1))))) {
          acc(o) = other(o); acc(o + 1) = other(o + 1)
        },
      (acc, o) => acc(o + 1))
  }

  private def sameKey(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN)

  /** numpy `prod` / `any` / `all` along an axis (`array/reductions.py`
    * prod, any, all). any/all use numpy truthiness: NaN is truthy
    * (`v != 0.0` is true for NaN in IEEE comparison).
    */
  def prodAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = 1.0,
      (acc, o, v, _) => acc(o) *= v,
      (acc, other, o) => acc(o) *= other(o),
      (acc, o) => acc(o))

  def anyAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = 0.0,
      (acc, o, v, _) => if (v != 0.0) acc(o) = 1.0,
      (acc, other, o) => if (other(o) != 0.0) acc(o) = 1.0,
      (acc, o) => acc(o))

  def allAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = 1.0,
      (acc, o, v, _) => if (v == 0.0) acc(o) = 0.0,
      (acc, other, o) => if (other(o) == 0.0) acc(o) = 0.0,
      (acc, o) => acc(o))

  def countNonzeroAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = 0.0,
      (acc, o, v, _) => if (v != 0.0) acc(o) += 1.0,
      (acc, other, o) => acc(o) += other(o),
      (acc, o) => acc(o))

  /** The nan-skipping reduction family (`array/reductions.py` nansum/
    * nanmean/nanmin/nanmax/nanvar): NaN elements are ignored; an all-NaN
    * lane yields 0 for nansum (numpy) and NaN for nanmean/nanmin/nanmax/
    * nanvar (numpy's all-NaN-slice result). Width-2 cells carry the
    * non-NaN count so the empty lane is detected exactly.
    */
  def nansumAxis(axis: Int): GArr =
    axisAgg(axis, 1)(
      (acc, o) => acc(o) = 0.0,
      (acc, o, v, _) => if (!v.isNaN) acc(o) += v,
      (acc, other, o) => acc(o) += other(o),
      (acc, o) => acc(o))

  def nanmeanAxis(axis: Int): GArr =
    axisAgg(axis, 2)(
      (acc, o) => { acc(o) = 0.0; acc(o + 1) = 0.0 },
      (acc, o, v, _) => if (!v.isNaN) { acc(o) += v; acc(o + 1) += 1.0 },
      (acc, other, o) => { acc(o) += other(o); acc(o + 1) += other(o + 1) },
      (acc, o) => if (acc(o + 1) == 0.0) Double.NaN else acc(o) / acc(o + 1))

  def nanminAxis(axis: Int): GArr = nanExtremeAxis(axis, lt = true)
  def nanmaxAxis(axis: Int): GArr = nanExtremeAxis(axis, lt = false)

  /** numpy `nanargmin`/`nanargmax`: NaN elements are skipped; first
    * occurrence wins ties (merge tiebreak = lower coordinate). An all-NaN
    * lane yields -1 (numpy raises ValueError there; a sentinel keeps the
    * op total and distributed-friendly — documented divergence).
    */
  def nanargminAxis(axis: Int): GArr = nanargAxis(axis, lt = true)
  def nanargmaxAxis(axis: Int): GArr = nanargAxis(axis, lt = false)

  private def nanargAxis(axis: Int, lt: Boolean): GArr =
    axisAgg(axis, 2)(
      (acc, o) => { acc(o) = 0.0; acc(o + 1) = -1.0 },
      (acc, o, v, c) => if (!v.isNaN) {
        if (acc(o + 1) < 0 || (if (lt) v < acc(o) else v > acc(o)) ||
            (v == acc(o) && c < acc(o + 1))) { acc(o) = v; acc(o + 1) = c.toDouble }
      },
      (acc, other, o) => if (other(o + 1) >= 0) {
        if (acc(o + 1) < 0 || (if (lt) other(o) < acc(o) else other(o) > acc(o)) ||
            (other(o) == acc(o) && other(o + 1) < acc(o + 1))) {
          acc(o) = other(o); acc(o + 1) = other(o + 1)
        }
      },
      (acc, o) => acc(o + 1))

  private def nanExtremeAxis(axis: Int, lt: Boolean): GArr =
    axisAgg(axis, 2)(
      (acc, o) => { acc(o) = if (lt) Double.PositiveInfinity else Double.NegativeInfinity; acc(o + 1) = 0.0 },
      (acc, o, v, _) => if (!v.isNaN) {
        if (if (lt) v < acc(o) else v > acc(o)) acc(o) = v
        acc(o + 1) = 1.0
      },
      (acc, other, o) => if (other(o + 1) != 0.0) {
        if (if (lt) other(o) < acc(o) else other(o) > acc(o)) acc(o) = other(o)
        acc(o + 1) = 1.0
      },
      (acc, o) => if (acc(o + 1) == 0.0) Double.NaN else acc(o))

  def nanvarAxis(axis: Int, ddof: Int = 0): GArr =
    axisAgg(axis, 3)(
      (acc, o) => { acc(o) = 0.0; acc(o + 1) = 0.0; acc(o + 2) = 0.0 },
      (acc, o, v, _) => if (!v.isNaN) { acc(o) += v; acc(o + 1) += v * v; acc(o + 2) += 1.0 },
      (acc, other, o) => { acc(o) += other(o); acc(o + 1) += other(o + 1); acc(o + 2) += other(o + 2) },
      (acc, o) => {
        val n = acc(o + 2)
        if (n - ddof <= 0) Double.NaN
        else { val m = acc(o) / n; (acc(o + 1) - n * m * m) / (n - ddof) }
      })

  /** dask array `topk` (`array/reductions.py` topk): the k largest
    * (k > 0, sorted descending) or k smallest (k < 0, sorted ascending)
    * along `axis` — the axis dimension becomes min(|k|, n) in ONE block.
    * Per-block partial top-k per lane (map-side, O(lanes·k) state), then
    * one shuffle keyed by the remaining block coords — never a full sort.
    */
  def topkAxis(axis: Int, k: Int): GArr = {
    require(ndim >= 1 && axis >= 0 && axis < ndim && k != 0)
    val kk = math.min(math.abs(k).toLong, shape(axis)).toInt
    val desc = k > 0
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val restGrid = { val g = grid; (0 until nd).filter(_ != axis).map(g) }
    val partials = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val restDims = Array.tabulate(nd - 1)(j => sdims(if (j < axis) j else j + 1))
      val restTotal = if (restDims.isEmpty) 1 else restDims.product
      val heaps = Array.fill(restTotal)(new scala.collection.mutable.ArrayBuffer[Double](kk + 1))
      val rstr = cStridesI(restDims)
      val t = new Array[Int](nd)
      var i = 0
      while (i < b.data.length) {
        var ro = 0; var j = 0; var q = 0
        while (j < nd) { if (j != axis) { ro += t(j) * rstr(q); q += 1 }; j += 1 }
        heaps(ro) += b.data(i)
        incOdo(t, sdims)
        i += 1
      }
      val kept = heaps.map { buf =>
        val a = buf.toArray
        java.util.Arrays.sort(a)
        val picked = if (desc) a.reverse.take(kk) else a.take(kk)
        picked
      }
      val restBid = (0 until nd).filter(_ != axis).map(b.bid)
      (linearBidL(restBid, restGrid), restBid, restTotal, kept.flatten)
    }
    // top-k merge is associative (top_k(A∪B) = top_k(top_k(A)∪top_k(B))),
    // so reduceGroups gives a map-side combine: candidate width per lane
    // is capped at kk BEFORE the exchange instead of O(axisGrid·k) after.
    val reduced = partials.groupByKey(_._1)
      .reduceGroups { (x, y) =>
        val restTotal = x._3
        val w1 = x._4.length / restTotal
        val w2 = y._4.length / restTotal
        val wo = math.min(w1 + w2, kk)
        val out = new Array[Double](restTotal * wo)
        val cand = new Array[Double](w1 + w2)
        var lane = 0
        while (lane < restTotal) {
          System.arraycopy(x._4, lane * w1, cand, 0, w1)
          System.arraycopy(y._4, lane * w2, cand, w1, w2)
          java.util.Arrays.sort(cand)
          var j = 0
          while (j < wo) {
            out(lane * wo + j) = if (desc) cand(cand.length - 1 - j) else cand(j)
            j += 1
          }
          lane += 1
        }
        (x._1, x._2, restTotal, out)
      }
      .map { case (_, (_, restBid, restTotal, merged)) =>
      val out = new Array[Double](restTotal * kk)
      var lane = 0
      while (lane < restTotal) {
        val width = merged.length / restTotal
        val picked = new Array[Double](kk)
        var j = 0
        // a single block can keep fewer than kk candidates, but the merged
        // width across the whole axis always reaches kk (sum of per-block
        // keeps >= min(kk, shape(axis)) = kk)
        while (j < kk) { picked(j) = merged(lane * width + j); j += 1 }
        // place along the (restored) axis position in C-order
        j = 0
        while (j < kk) { out(laneOffset(lane, j)) = picked(j); j += 1 }
        lane += 1
      }
      def laneOffset(lane: Int, aj: Int): Int = {
        // rest dims with axis re-inserted at `axis` with extent kk:
        // decompose lane over restDims, then weave aj back in
        val restDims = Array.tabulate(nd - 1) { j =>
          val d = if (j < axis) j else j + 1
          chunkDim(srcStarts(d), restBid(if (j < axis) j else j))
        }
        val full = new Array[Int](nd)
        var rem = lane
        var j = nd - 2
        while (j >= 0) { full(if (j < axis) j else j + 1) = rem % restDims(j); rem /= restDims(j); j -= 1 }
        full(axis) = aj
        val fullDims = new Array[Int](nd)
        var d = 0
        while (d < nd) { fullDims(d) = if (d == axis) kk else chunkDim(srcStarts(d), restBid(if (d < axis) d else d - 1)); d += 1 }
        val str = cStridesI(fullDims)
        var off = 0; d = 0
        while (d < nd) { off += full(d) * str(d); d += 1 }
        off
      }
      val bid = (restBid.take(axis) :+ 0) ++ restBid.drop(axis)
      ABlock(bid, out)
    }
    GArr(shape.updated(axis, kk.toLong),
      chunks.updated(axis, Seq(kk)), reduced)
  }

  /** Axis-reduction engine: per-block partial over `width`-double cells,
    * then a partial→final typed aggregation keyed by the remaining block
    * coords — `reductions.py`'s chunk/combine/aggregate tree with Spark's
    * shuffle as the tree. The finalize is `reduceGroups` (an Aggregator
    * under the hood), so co-located per-block partials MERGE MAP-SIDE
    * before the exchange — only one `width`-cell vector per (task ×
    * output block) crosses the wire, dask's TreeReduce/split_every
    * semantics (`_reductions.py:300-398`). `absorb` sees the element's
    * GLOBAL coordinate along the reduced axis (for arg-reductions).
    */
  private def axisAgg(axis: Int, width: Int)(
      init: (Array[Double], Int) => Unit,
      absorb: (Array[Double], Int, Double, Long) => Unit,
      merge: (Array[Double], Array[Double], Int) => Unit,
      finish: (Array[Double], Int) => Double): GArr = {
    require(ndim >= 1 && axis >= 0 && axis < ndim)
    val s = spark
    import s.implicits._
    val nd = ndim
    val w = width
    val srcStarts = chunks.map(startsOf)
    val restGrid = { val g = grid; (0 until nd).filter(_ != axis).map(g) }
    val partials = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val axisStart = srcStarts(axis)(b.bid(axis))
      val restDims = Array.tabulate(nd - 1)(j => sdims(if (j < axis) j else j + 1))
      val restTotal = if (restDims.isEmpty) 1 else restDims.product
      val acc = new Array[Double](restTotal * w)
      var lane = 0
      while (lane < restTotal) { init(acc, lane * w); lane += 1 }
      val t = new Array[Int](nd)
      val rstr = cStridesI(restDims)
      var i = 0
      while (i < b.data.length) {
        var ro = 0; var j = 0; var k = 0
        while (j < nd) { if (j != axis) { ro += t(j) * rstr(k); k += 1 }; j += 1 }
        absorb(acc, ro * w, b.data(i), axisStart + t(axis))
        incOdo(t, sdims)
        i += 1
      }
      val restBid = (0 until nd).filter(_ != axis).map(b.bid)
      (linearBidL(restBid, restGrid), restBid, acc)
    }
    val reduced = partials.groupByKey(_._1)
      .reduceGroups { (x, y) =>
        var lane = 0
        while (lane * w < x._3.length) { merge(x._3, y._3, lane * w); lane += 1 }
        x
      }
      .map { case (_, (_, restBid, acc)) =>
        val out = new Array[Double](acc.length / w)
        var lane = 0
        while (lane < out.length) { out(lane) = finish(acc, lane * w); lane += 1 }
        ABlock(restBid, out)
      }
    GArr((0 until nd).filter(_ != axis).map(shape),
      (0 until nd).filter(_ != axis).map(chunks), reduced)
  }

  /** Inclusive prefix scans along `axis` — the reference's
    * sequential/blelloch `cumsum/cumprod(axis=)`
    * (`array/reductions.py:217-268`) plus the `cummax/cummin`
    * ufunc-accumulate family, all over one generalized two-phase
    * distributed scan ([[scanAxis]]).
    */
  def cumsumAxis(axis: Int): GArr = scanAxis(axis)(_ + _)
  def cumprodAxis(axis: Int): GArr = scanAxis(axis)(_ * _)

  /** numpy `nancumsum`/`nancumprod` (reference `array/reductions.py`
    * nan-variants): NaNs are treated as the identity, so the scan passes
    * through them — a narrow NaN-replace composed with the same two-phase
    * scan (no extra shuffle beyond the scan's own boundary carry).
    */
  def nancumsumAxis(axis: Int): GArr =
    scalarMap(v => if (v.isNaN) 0.0 else v).cumsumAxis(axis)
  def nancumprodAxis(axis: Int): GArr =
    scalarMap(v => if (v.isNaN) 1.0 else v).cumprodAxis(axis)

  /** Boolean-masked fill `x[mask] = v` with a DISTRIBUTED mask of the same
    * chunk grid (the setitem counterpart of [[booleanMask]]; dask lowers
    * this through `where`) — one blockwise zip, shape preserved.
    */
  def maskedFill(mask: GArr, v: Double): GArr = {
    require(shape == mask.shape && chunks == mask.chunks,
      s"maskedFill requires identical shape/chunks: $shape vs ${mask.shape}")
    mask.mapBlocks((_, d) => Array.fill(d.length)(v)).where(mask, this)
  }
  /** numpy `maximum.accumulate` / `minimum.accumulate` semantics: NaN
    * propagates once seen (IEEE max/min with NaN checks, like np.maximum).
    */
  def cummaxAxis(axis: Int): GArr =
    scanAxis(axis)((a, b) => if (a.isNaN || b.isNaN) Double.NaN else math.max(a, b))
  def cumminAxis(axis: Int): GArr =
    scanAxis(axis)((a, b) => if (a.isNaN || b.isNaN) Double.NaN else math.min(a, b))

  /** Generalized inclusive prefix scan with any associative `op`, as the
    * classic two-phase distributed scan: (1) narrow per-block local scan
    * emitting per-lane block totals, (2) totals prefix-combined per lane
    * across the axis block index — ONE groupByKey whose state is
    * O(axis grid · lanes/block), never O(elements), (3) offsets joined
    * back (equi-join on the block id) and combined in a narrow map. Two
    * shuffles total regardless of array size. Blocks upstream of the
    * first axis block receive no offset (the exclusive prefix of nothing),
    * so no identity element is needed — `op` alone suffices.
    */
  def scanAxis(axis: Int)(op: (Double, Double) => Double): GArr = {
    require(ndim >= 1 && axis >= 0 && axis < ndim)
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val g = grid
    val restGrid = (0 until nd).filter(_ != axis).map(g)
    val scanned = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val str = cStridesI(sdims)
      val astr = str(axis)
      val out = b.data.clone()
      val t = new Array[Int](nd)
      var i = 0
      while (i < out.length) {
        if (t(axis) > 0) out(i) = op(out(i - astr), out(i))
        incOdo(t, sdims)
        i += 1
      }
      // per-lane totals = the scanned values on the block's last axis plane
      val restDims = Array.tabulate(nd - 1)(j => sdims(if (j < axis) j else j + 1))
      val restTotal = if (restDims.isEmpty) 1 else restDims.product
      val totals = new Array[Double](restTotal)
      val rstr = cStridesI(restDims)
      java.util.Arrays.fill(t, 0)
      i = 0
      while (i < out.length) {
        if (t(axis) == sdims(axis) - 1) {
          var ro = 0; var j = 0; var k = 0
          while (j < nd) { if (j != axis) { ro += t(j) * rstr(k); k += 1 }; j += 1 }
          totals(ro) = out(i)
        }
        incOdo(t, sdims)
        i += 1
      }
      val restBid = (0 until nd).filter(_ != axis).map(b.bid)
      (linearBidL(b.bid, g), linearBidL(restBid, restGrid), b.bid, out, totals)
    }
    // phase 2: exclusive prefix-combine of block totals along the axis
    // grid, per lane. The first axis block gets NO offset row (exclusive
    // prefix of nothing) — `op` needs no identity element. This gather is
    // NOT map-side combinable: each block contributes exactly one
    // distinct (restBid, axisBid) totals leaf and every leaf is needed in
    // axis order, so the exchange already moves the minimum
    // O(axis grid · lanes) bytes.
    val offsets = scanned
      .map(x => (x._2, x._3(axis), x._1, x._5))
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val entries = it.toArray.sortBy(_._2)
        val lanes = entries.head._4.length
        var run: Array[Double] = null
        entries.flatMap { case (_, _, fullKey, tot) =>
          val off = if (run == null) None else Some((fullKey, run.clone()))
          if (run == null) run = tot.clone()
          else { var l = 0; while (l < lanes) { run(l) = op(run(l), tot(l)); l += 1 } }
          off
        }
      }
    // phase 3: combine the lane offset into every element of the matching
    // block (left join — offset-less first blocks pass through unchanged)
    val axisIdx = axis
    val keyed = scanned.map(x => (x._1, x._3, x._4))
    val joined = keyed.joinWith(offsets, keyed("_1") === offsets("_1"), "left_outer")
    val result = joined.map { case ((_, bid, data), offRow) =>
      if (offRow == null) ABlock(bid, data)
      else {
        val off = offRow._2
        val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), bid(d)))
        val restDims = Array.tabulate(nd - 1)(j => sdims(if (j < axisIdx) j else j + 1))
        val rstr = cStridesI(restDims)
        val out = data.clone()
        val t = new Array[Int](nd)
        var i = 0
        while (i < out.length) {
          var ro = 0; var j = 0; var k = 0
          while (j < nd) { if (j != axisIdx) { ro += t(j) * rstr(k); k += 1 }; j += 1 }
          out(i) = op(off(ro), out(i))
          incOdo(t, sdims)
          i += 1
        }
        ABlock(bid, out)
      }
    }
    copy(blocks = result)
  }

  /** dask array `map_overlap` along one axis (reference
    * `array/overlap.py:501` with `boundary='none'` trim semantics): each
    * block receives up to `depth` neighboring hyperplanes from the
    * adjacent blocks on each side, the kernel sees (data-with-halos,
    * haloBefore, haloAfter, dims-with-halos) and must return the CORE
    * (halo-trimmed) block. Only the halo slabs cross the wire — one
    * shuffle of O(depth · plane) pieces, never whole blocks.
    */
  def mapOverlapAxis(axis: Int, depth: Int)(
      f: (Array[Double], Int, Int, Array[Int]) => Array[Double]): GArr = {
    require(ndim >= 1 && axis >= 0 && axis < ndim && depth >= 0)
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val axisStarts = srcStarts(axis)
    val axisChunks = chunks(axis).toArray
    val gridAxis = grid(axis)
    val gFull = grid
    val nAxis = shape(axis)
    // pieces route by GLOBAL axis coordinate, so a halo deeper than one
    // chunk is gathered from as many blocks as it spans (depth > chunk is
    // legal, exactly as in the reference). Placement = axis offset inside
    // the destination's halo-extended block.
    val pieces = blocks.flatMap { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val alen = sdims(axis)
      val abid = b.bid(axis)
      val g0 = axisStarts(abid)
      val g1 = g0 + alen
      val out = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int], Int, Array[Double])]()
      val beforeSelf = math.min(depth.toLong, g0).toInt
      out += ((linearBidL(b.bid, gFull), b.bid, beforeSelf, b.data))
      // right destinations m > abid: b's tail lands in m's before-halo
      var m = abid + 1
      while (m < gridAxis && axisStarts(m) < g1 + depth) {
        val sM = axisStarts(m)
        val lo = math.max(g0, sM - depth); val hi = math.min(g1, sM)
        if (hi > lo) {
          val dst = b.bid.updated(axis, m)
          val beforeM = math.min(depth.toLong, sM).toInt
          out += ((linearBidL(dst, gFull), dst, (lo - (sM - beforeM)).toInt,
            slabOf(b.data, sdims, axis, (lo - g0).toInt, (hi - g0).toInt)))
        }
        m += 1
      }
      // left destinations m < abid: b's head lands in m's after-halo
      m = abid - 1
      while (m >= 0 && axisStarts(m) + axisChunks(m) > g0 - depth) {
        val eM = axisStarts(m) + axisChunks(m)
        val lo = math.max(g0, eM); val hi = math.min(g1, eM + depth)
        if (hi > lo) {
          val dst = b.bid.updated(axis, m)
          val beforeM = math.min(depth.toLong, axisStarts(m)).toInt
          out += ((linearBidL(dst, gFull), dst,
            (beforeM + axisChunks(m) + (lo - eM)).toInt,
            slabOf(b.data, sdims, axis, (lo - g0).toInt, (hi - g0).toInt)))
        }
        m -= 1
      }
      out
    }
    val assembled = pieces.groupByKey(_._1).mapGroups { (_, it) =>
      val ps = it.toArray
      val bid = ps.head._2
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), bid(d)))
      val alen = sdims(axis)
      val sM = axisStarts(bid(axis))
      val before = math.min(depth.toLong, sM).toInt
      val after = math.min(depth.toLong, nAxis - (sM + alen)).toInt
      val hdims = sdims.clone(); hdims(axis) = alen + before + after
      val halo = new Array[Double](hdims.product)
      ps.foreach { case (_, _, place, data) =>
        val planeCount = data.length / math.max(1, hdims.product / hdims(axis))
        placeSlab(data, halo, hdims, axis, place, place + planeCount)
      }
      val core = f(halo, before, after, hdims)
      require(core.length == sdims.product,
        s"mapOverlapAxis kernel returned ${core.length}, expected ${sdims.product}")
      ABlock(bid, core)
    }
    copy(blocks = assembled)
  }

  /** dask `median`/`quantile` along an axis (reference
    * `array/reductions.py` median: dask itself REQUIRES the reduced axis
    * in one chunk — "rechunk so that median runs on a single chunk").
    * Same contract here: rechunk the axis single-chunk (one scatter
    * shuffle; every other axis keeps its chunking and its parallelism),
    * then a narrow per-lane sort + linear-interpolated quantile
    * (numpy's default interpolation). `q` in [0,1].
    */
  def quantileAxis(axis: Int, q: Double): GArr = {
    require(q >= 0.0 && q <= 1.0, s"quantile q must be in [0,1]: $q")
    require(ndim >= 1 && axis >= 0 && axis < ndim)
    val single =
      if (chunks(axis).length == 1) this
      else rechunkTo(chunks.updated(axis, Seq(shape(axis).toInt)))
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = single.chunks.map(startsOf)
    val qq = q
    val ax = axis
    val reduced = single.blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val alen = sdims(ax)
      val restDims = Array.tabulate(nd - 1)(j => sdims(if (j < ax) j else j + 1))
      val restTotal = if (restDims.isEmpty) 1 else restDims.product
      val rstr = cStridesI(restDims)
      val out = new Array[Double](restTotal)
      val lane = new Array[Double](alen)
      val t = new Array[Int](nd)
      // gather each lane (fixed rest coords, axis varying), sort, pick
      var r = 0
      while (r < restTotal) {
        // decompose r over restDims into t (axis coord filled per step)
        var rem = r; var j = nd - 2
        while (j >= 0) {
          val d = if (j < ax) j else j + 1
          t(d) = rem % restDims(j); rem /= restDims(j)
          j -= 1
        }
        val str = cStridesI(sdims)
        var base = 0; var d = 0
        while (d < nd) { if (d != ax) base += t(d) * str(d); d += 1 }
        var a = 0
        while (a < alen) { lane(a) = b.data(base + a * str(ax)); a += 1 }
        java.util.Arrays.sort(lane)
        val pos = qq * (alen - 1)
        val lo = pos.toInt
        val hi = math.min(lo + 1, alen - 1)
        val frac = pos - lo
        out(r) = lane(lo) * (1.0 - frac) + lane(hi) * frac
        r += 1
      }
      ABlock((0 until nd).filter(_ != ax).map(b.bid), out)
    }
    GArr((0 until nd).filter(_ != ax).map(shape),
      (0 until nd).filter(_ != ax).map(single.chunks), reduced)
  }

  /** numpy/dask `median(axis=)` — the 0.5 quantile. */
  def medianAxis(axis: Int): GArr = quantileAxis(axis, 0.5)

  /** dask `map_overlap` boundary modes (reference `array/overlap.py:501`,
    * `boundary` ∈ none | reflect | nearest | periodic | constant): pad
    * the array edge by `depth` per the mode — composing the existing
    * padReflectAxis / padEdgeAxis / padAxis / slice primitives — run the
    * [[mapOverlapAxis]] halo exchange over the padded grid, and regrid
    * the pad back off (restoring the ORIGINAL chunk structure exactly,
    * as dask does). With a padded boundary every original block's kernel
    * sees a FULL `depth` halo on both sides.
    */
  def mapOverlapAxisBoundary(axis: Int, depth: Int, boundary: String,
                             cval: Double = 0.0)(
      f: (Array[Double], Int, Int, Array[Int]) => Array[Double]): GArr = {
    require(ndim >= 1 && axis >= 0 && axis < ndim && depth >= 0)
    if (depth == 0 || boundary == "none") return mapOverlapAxis(axis, depth)(f)
    val padded = boundary match {
      case "nearest"  => padEdgeAxis(axis, depth, depth)
      case "reflect"  => padReflectAxis(axis, depth, depth)
      case "constant" => padAxis(axis, depth, depth, cval)
      case "periodic" =>
        val n = shape(axis)
        require(depth <= n, s"periodic boundary depth $depth > axis length $n")
        val full = shape.indices.map(d => (0L, shape(d), 1L))
        def seg(a: Long, b: Long): GArr =
          slice(full.updated(axis, (a, b, 1L)))
            .rechunkTo(chunks.updated(axis, Seq((b - a).toInt)))
        GArr.concatenate(axis, Seq(seg(n - depth, n), this, seg(0L, depth)))
      case other =>
        throw new IllegalArgumentException(
          s"mapOverlapAxisBoundary: unknown boundary '$other' " +
            "(none | reflect | nearest | periodic | constant)")
    }
    val mapped = padded.mapOverlapAxis(axis, depth)(f)
    // trim the pad in one scatter shuffle, restoring this array's exact
    // chunk structure (dask's map_overlap preserves chunking)
    val specs = padded.shape.indices.map(d =>
      if (d == axis) (depth.toLong, depth + shape(axis), 1L)
      else (0L, padded.shape(d), 1L))
    mapped.regrid(specs, shape, chunks)
  }

  /** numpy/dask `sliding_window_view` along one axis (reference
    * `array/lib/stride_tricks.py`: dask lowers it through `map_overlap`
    * with a one-sided depth of `w−1` and a new trailing window axis —
    * same decomposition here). Each block pulls up to `w−1` trailing
    * hyperplanes from its right neighbors (only the halo slabs cross the
    * wire, one shuffle), then emits its windows as a block with a new
    * LAST axis of length `w`; the output stays chunked exactly like the
    * input on every other axis, so downstream reductions over the window
    * axis (rolling sums/means as `sum(axis=-1)`) are narrow.
    *
    * numpy semantics: output axis length n−w+1; trailing source blocks
    * that start past the last window start contribute halo only and emit
    * no block (the output grid along `axis` is the surviving prefix).
    */
  def slidingWindowAxis(axis: Int, w: Int): GArr = {
    require(ndim >= 1 && axis >= 0 && axis < ndim, s"slidingWindowAxis: bad axis $axis")
    val n = shape(axis)
    require(w >= 1 && w <= n, s"slidingWindowAxis: window $w out of range for axis length $n")
    val s = spark
    import s.implicits._
    val nd = ndim
    val ax = axis
    val srcStarts = chunks.map(startsOf)
    val axisStarts = srcStarts(ax)
    val axisChunks = chunks(ax).toArray
    val gFull = grid
    val depth = w - 1
    val lastStart = n - w // last valid window start (global)
    // output chunking along the axis: per surviving source block, its
    // window-start count; all other axes keep their chunking; the window
    // axis is one chunk of w
    val coreLens = axisChunks.indices.map { i =>
      val g0 = axisStarts(i)
      math.max(0L, math.min(g0 + axisChunks(i), lastStart + 1) - g0).toInt
    }
    val kept = coreLens.count(_ > 0)
    require(kept > 0, "slidingWindowAxis: no windows")
    val outAxisChunks = coreLens.take(kept)
    val pieces = blocks.flatMap { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val alen = sdims(ax)
      val abid = b.bid(ax)
      val g0 = axisStarts(abid)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int], Int, Array[Double])]()
      if (abid < kept)
        out += ((linearBidL(b.bid, gFull), b.bid, 0, b.data))
      // b's head lands in left neighbors' after-halo (placement is the
      // axis offset inside the destination's halo-extended block)
      var m = abid - 1
      while (m >= 0 && axisStarts(m) + axisChunks(m) > g0 - depth) {
        if (m < kept) {
          val eM = axisStarts(m) + axisChunks(m)
          val hi = math.min(g0 + alen, eM + depth)
          if (hi > g0) {
            val dst = b.bid.updated(ax, m)
            out += ((linearBidL(dst, gFull), dst,
              (axisChunks(m) + (g0 - eM)).toInt,
              slabOf(b.data, sdims, ax, 0, (hi - g0).toInt)))
          }
        }
        m -= 1
      }
      out
    }
    val assembled = pieces.groupByKey(_._1).flatMapGroups { (_, it) =>
      val ps = it.toArray
      val bid = ps.head._2
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), bid(d)))
      val alen = sdims(ax)
      val g0 = axisStarts(bid(ax))
      val after = math.min(depth.toLong, n - (g0 + alen)).toInt
      val cnt = (math.min(g0 + alen, lastStart + 1) - g0).toInt
      if (cnt <= 0) Iterator.empty
      else {
        val hdims = sdims.clone(); hdims(ax) = alen + after
        val halo = new Array[Double](hdims.product)
        ps.foreach { case (_, _, place, data) =>
          val planes = data.length / math.max(1, hdims.product / hdims(ax))
          placeSlab(data, halo, hdims, ax, place, place + planes)
        }
        val hstr = cStridesI(hdims)
        val coreDims = sdims.clone(); coreDims(ax) = cnt
        val total = coreDims.product
        val out = new Array[Double](total * w)
        val t = new Array[Int](nd)
        var i = 0
        while (i < total) {
          var baseH = 0; var d = 0
          while (d < nd) { baseH += t(d) * hstr(d); d += 1 }
          var q = 0
          while (q < w) { out(i * w + q) = halo(baseH + q * hstr(ax)); q += 1 }
          incOdo(t, coreDims)
          i += 1
        }
        Iterator.single(ABlock(bid :+ 0, out))
      }
    }
    GArr(shape.updated(ax, lastStart + 1) :+ w.toLong,
      chunks.updated(ax, outAxisChunks) :+ Seq(w), assembled)
  }

  /** dask `coarsen` (`array/routines.py` coarsen): block-reduce
    * downsampling — each non-overlapping `factors(d)`-sized hyperrectangle
    * reduces to one cell via `reduce` seeded with the first element. Pure
    * narrow map: dask requires every chunk divisible by its factor (the
    * same contract here — rechunk first otherwise), so no window straddles
    * a block boundary and nothing shuffles.
    */
  def coarsen(factors: Seq[Int])(reduce: (Double, Double) => Double): GArr = {
    require(factors.length == ndim && factors.forall(_ >= 1))
    factors.zipWithIndex.foreach { case (f, d) =>
      require(chunks(d).forall(_ % f == 0),
        s"coarsen factor $f does not divide every chunk along dim $d (${chunks(d)}); rechunk first")
    }
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val fac = factors.toArray
    val out = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val str = cStridesI(sdims)
      val odims = Array.tabulate(nd)(d => sdims(d) / fac(d))
      val o = new Array[Double](odims.product)
      val t = new Array[Int](nd)      // output cell odometer
      val u = new Array[Int](nd)      // intra-window odometer
      var i = 0
      while (i < o.length) {
        java.util.Arrays.fill(u, 0)
        var acc = 0.0; var first = true
        var go = true
        while (go) {
          var off = 0; var d = 0
          while (d < nd) { off += (t(d) * fac(d) + u(d)) * str(d); d += 1 }
          acc = if (first) b.data(off) else reduce(acc, b.data(off))
          first = false
          go = incOdo(u, fac)
        }
        o(i) = acc
        incOdo(t, odims)
        i += 1
      }
      ABlock(b.bid, o)
    }
    GArr(shape.zip(fac).map { case (l, f) => l / f },
      chunks.zipWithIndex.map { case (cs, d) => cs.map(_ / fac(d)) }, out)
  }

  /** numpy `diff(n=1)` along an axis (`array/routines.py` diff): composed
    * from two strided slices + elementwise subtract — both slices emit the
    * same output grid (same lengths, same chunk chooser), so the elemwise
    * join is co-partitioned. Output axis length shrinks by one.
    */
  def diffAxis(axis: Int): GArr = {
    require(shape(axis) >= 2, s"diff needs >=2 elements along axis $axis")
    val n = shape(axis)
    val full = shape.indices.map(d => (0L, shape(d), 1L))
    val hi = slice(full.updated(axis, (1L, n, 1L)))
    val lo = slice(full.updated(axis, (0L, n - 1, 1L)))
    hi.elemwise(lo)(_ - _)
  }

  /** numpy `gradient` with unit spacing along `axis`: central differences
    * `(f[i+1]-f[i-1])/2` in the interior, one-sided at the edges. Shape-
    * preserving; implemented as a depth-1 halo exchange ([[mapOverlapAxis]])
    * so only boundary planes cross the wire.
    */
  def gradientAxis(axis: Int): GArr = {
    require(shape(axis) >= 2, s"gradient needs >=2 elements along axis $axis")
    val ax = axis
    mapOverlapAxis(ax, 1) { (halo, before, after, hdims) =>
      val nd = hdims.length
      val str = cStridesI(hdims)
      val astr = str(ax)
      val alen = hdims(ax)
      val coreDims = hdims.clone(); coreDims(ax) = alen - before - after
      val out = new Array[Double](coreDims.product)
      val t = new Array[Int](nd)
      var i = 0
      while (i < out.length) {
        var ho = 0; var j = 0
        while (j < nd) { ho += (if (j == ax) t(j) + before else t(j)) * str(j); j += 1 }
        val a = t(ax) + before
        out(i) =
          if (a == 0) halo(ho + astr) - halo(ho)
          else if (a == alen - 1) halo(ho) - halo(ho - astr)
          else (halo(ho + astr) - halo(ho - astr)) / 2.0
        incOdo(t, coreDims)
        i += 1
      }
      out
    }
  }

  /** numpy `flip` along an axis: zero-shuffle narrow map — block
    * coordinates reverse along the axis grid, chunk sizes reverse, and
    * each block's payload reverses along the axis locally.
    */
  def flipAxis(axis: Int): GArr = {
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val gAxis = grid(axis)
    val ax = axis
    val out = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val str = cStridesI(sdims)
      val o = new Array[Double](b.data.length)
      val t = new Array[Int](nd)
      var i = 0
      while (i < o.length) {
        var so = 0; var j = 0
        while (j < nd) { so += (if (j == ax) sdims(ax) - 1 - t(j) else t(j)) * str(j); j += 1 }
        o(i) = b.data(so)
        incOdo(t, sdims)
        i += 1
      }
      ABlock(b.bid.updated(ax, gAxis - 1 - b.bid(ax)), o)
    }
    GArr(shape, chunks.updated(axis, chunks(axis).reverse), out)
  }

  /** numpy `roll` along an axis (circular shift by `shift`): composed as
    * `concatenate(tail-slice, head-slice)` — two scatter shuffles, zero
    * driver data.
    */
  def rollAxis(axis: Int, shift: Long): GArr = {
    val n = shape(axis)
    val sft = ((shift % n) + n) % n
    if (sft == 0L) this
    else {
      val full = shape.indices.map(d => (0L, shape(d), 1L))
      val tail = slice(full.updated(axis, (n - sft, n, 1L)))
      val head = slice(full.updated(axis, (0L, n - sft, 1L)))
      // non-axis chunking comes from the same chooser over identical
      // lengths, so concatenate's grid requirement holds by construction
      GArr.concatenate(axis, Seq(tail, head))
    }
  }

  /** numpy constant `pad` along one axis: concatenate constant-filled
    * pad arrays (built block-parallel from this array's own non-axis
    * chunk structure — [[GArr.fromChunksGrid]]) before/after. Zero data
    * movement for the existing payload.
    */
  def padAxis(axis: Int, before: Int, after: Int, value: Double = 0.0): GArr = {
    require(before >= 0 && after >= 0)
    // the pad region follows the array's own chunk granularity along the
    // axis — a multi-million-element pad must NOT become one block (a
    // single 100MB+ task/row); grid-parallel like every creation op
    val axisChunk = math.max(1, chunks(axis).max)
    def padArr(len: Int): GArr = {
      val padShape = shape.updated(axis, len.toLong)
      val padChunks = chunks.updated(axis, GArr.evenChunks(len.toLong, axisChunk))
      GArr.fromChunksGrid(spark, padShape, padChunks)((_, dims) =>
        Array.fill(dims.product)(value))
    }
    val parts = Seq(
      if (before > 0) Some(padArr(before)) else None,
      Some(this),
      if (after > 0) Some(padArr(after)) else None).flatten
    if (parts.length == 1) this else GArr.concatenate(axis, parts)
  }

  /** numpy `pad(mode='edge')` along one axis: the boundary hyperplane is
    * replicated `before`/`after` times — composed as unit-slice →
    * broadcast → concatenate. Payload moved is O(pad · plane), never the
    * array.
    */
  def padEdgeAxis(axis: Int, before: Int, after: Int): GArr = {
    require(before >= 0 && after >= 0)
    val full = shape.indices.map(d => (0L, shape(d), 1L))
    val n = shape(axis)
    def edgeRep(at: Long, rep: Int): GArr =
      slice(full.updated(axis, (at, at + 1, 1L)))
        .rechunkTo(chunks.updated(axis, Seq(1)))
        .broadcastAxis(axis, rep.toLong, chunk = rep)
    val parts = Seq(
      if (before > 0) Some(edgeRep(0L, before)) else None,
      Some(this),
      if (after > 0) Some(edgeRep(n - 1, after)) else None).flatten
    if (parts.length == 1) this else GArr.concatenate(axis, parts)
  }

  /** numpy `pad(mode='reflect')` along one axis (no edge duplication,
    * numpy's default reflect): before-pad = rows 1..before flipped,
    * after-pad = rows n-1-after..n-2 flipped — composed as slice → flip →
    * concatenate. Requires pad < axis length, exactly as numpy does.
    */
  def padReflectAxis(axis: Int, before: Int, after: Int): GArr = {
    require(before >= 0 && after >= 0 && before < shape(axis) && after < shape(axis),
      s"reflect pad ($before,$after) must be < axis length ${shape(axis)}")
    val full = shape.indices.map(d => (0L, shape(d), 1L))
    val n = shape(axis)
    def seg(a: Long, b: Long): GArr =
      slice(full.updated(axis, (a, b, 1L)))
        .rechunkTo(chunks.updated(axis, GArr.evenChunks(b - a, math.max(1, (b - a).toInt))))
    val parts = Seq(
      if (before > 0) Some(seg(1L, 1L + before).flipAxis(axis)) else None,
      Some(this),
      if (after > 0) Some(seg(n - 1 - after, n - 1).flipAxis(axis)) else None).flatten
    if (parts.length == 1) this else GArr.concatenate(axis, parts)
  }

  /** numpy/dask `argtopk(k, axis)` (reference `array/reductions.py`
    * argtopk — the index-returning sibling of topk): same per-lane
    * candidate sketch and map-side-combined tree merge as [[topkAxis]],
    * carrying (value, GLOBAL axis index) pairs; ties break toward the
    * SMALLER index (deterministic, matching a stable argsort), k>0 takes
    * the largest values, k<0 the smallest. Output extent |k| along the
    * axis, values are the winning indices.
    */
  def argtopkAxis(axis: Int, k: Int): GArr = {
    require(ndim >= 1 && axis >= 0 && axis < ndim && k != 0)
    val kk = math.min(math.abs(k).toLong, shape(axis)).toInt
    val desc = k > 0
    val s = spark
    import s.implicits._
    val nd = ndim
    val ax = axis
    val srcStarts = chunks.map(startsOf)
    val restGrid = { val g = grid; (0 until nd).filter(_ != ax).map(g) }
    // (value, idx) candidate ordering: better = larger value (desc) /
    // smaller value (asc); equal values -> smaller index wins
    def better(v1: Double, i1: Long, v2: Double, i2: Long): Boolean =
      if (v1 != v2) (if (desc) v1 > v2 else v1 < v2) else i1 < i2
    val partials = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val g0 = srcStarts(ax)(b.bid(ax))
      val restDims = Array.tabulate(nd - 1)(j => sdims(if (j < ax) j else j + 1))
      val restTotal = if (restDims.isEmpty) 1 else restDims.product
      val rstr = cStridesI(restDims)
      val lanesV = Array.fill(restTotal)(scala.collection.mutable.ArrayBuffer.empty[Double])
      val lanesI = Array.fill(restTotal)(scala.collection.mutable.ArrayBuffer.empty[Long])
      val t = new Array[Int](nd)
      var i = 0
      while (i < b.data.length) {
        var ro = 0; var j = 0; var q = 0
        while (j < nd) { if (j != ax) { ro += t(j) * rstr(q); q += 1 }; j += 1 }
        lanesV(ro) += b.data(i)
        lanesI(ro) += g0 + t(ax)
        incOdo(t, sdims)
        i += 1
      }
      val width = math.min(kk, sdims(ax))
      val outV = new Array[Double](restTotal * width)
      val outI = new Array[Long](restTotal * width)
      var lane = 0
      while (lane < restTotal) {
        val order = lanesI(lane).indices.sortWith((p, q) =>
          better(lanesV(lane)(p), lanesI(lane)(p), lanesV(lane)(q), lanesI(lane)(q)))
        var j = 0
        while (j < width) {
          outV(lane * width + j) = lanesV(lane)(order(j))
          outI(lane * width + j) = lanesI(lane)(order(j))
          j += 1
        }
        lane += 1
      }
      val restBid = (0 until nd).filter(_ != ax).map(b.bid)
      (linearBidL(restBid, restGrid), restBid, restTotal, outV, outI)
    }
    val reduced = partials.groupByKey(_._1)
      .reduceGroups { (x, y) =>
        val restTotal = x._3
        val w1 = x._4.length / restTotal
        val w2 = y._4.length / restTotal
        val wo = math.min(w1 + w2, kk)
        val outV = new Array[Double](restTotal * wo)
        val outI = new Array[Long](restTotal * wo)
        var lane = 0
        while (lane < restTotal) {
          // merge two sorted candidate lists, keep the best wo
          var p = 0; var q = 0; var j = 0
          while (j < wo) {
            val takeX = q >= w2 || (p < w1 && better(
              x._4(lane * w1 + p), x._5(lane * w1 + p),
              y._4(lane * w2 + q), y._5(lane * w2 + q)))
            if (takeX) { outV(lane * wo + j) = x._4(lane * w1 + p)
              outI(lane * wo + j) = x._5(lane * w1 + p); p += 1 }
            else { outV(lane * wo + j) = y._4(lane * w2 + q)
              outI(lane * wo + j) = y._5(lane * w2 + q); q += 1 }
            j += 1
          }
          lane += 1
        }
        (x._1, x._2, restTotal, outV, outI)
      }
      .map { case (_, (_, restBid, restTotal, _, mergedI)) =>
        val width = mergedI.length / restTotal
        val outDims = Array.tabulate(nd) { d =>
          if (d == ax) kk else chunkDim(srcStarts(d), restBid(if (d < ax) d else d - 1))
        }
        val out = new Array[Double](outDims.product)
        val ostr = cStridesI(outDims)
        var lane = 0
        while (lane < restTotal) {
          val full = new Array[Int](nd)
          var rem = lane; var j = nd - 2
          while (j >= 0) {
            val d = if (j < ax) j else j + 1
            full(d) = rem % outDims(d); rem /= outDims(d)
            j -= 1
          }
          var aj = 0
          while (aj < kk) {
            var off = 0; var d = 0
            while (d < nd) { off += (if (d == ax) aj else full(d)) * ostr(d); d += 1 }
            out(off) = mergedI(lane * width + aj).toDouble
            aj += 1
          }
          lane += 1
        }
        ABlock(restBid.patch(ax, Seq(0), 0), out)
      }
    GArr(shape.updated(ax, kk.toLong),
      chunks.updated(ax, Seq(kk)), reduced)
  }

  /** numpy `nanquantile`/`nanmedian` along an axis: [[quantileAxis]]'s
    * single-chunk-axis contract with NaNs dropped per lane before the
    * linear interpolation; an all-NaN lane yields NaN (numpy semantics).
    */
  def nanquantileAxis(axis: Int, q: Double): GArr = {
    require(q >= 0.0 && q <= 1.0, s"quantile q must be in [0,1]: $q")
    require(ndim >= 1 && axis >= 0 && axis < ndim)
    val single =
      if (chunks(axis).length == 1) this
      else rechunkTo(chunks.updated(axis, Seq(shape(axis).toInt)))
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = single.chunks.map(startsOf)
    val qq = q
    val ax = axis
    val reduced = single.blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val alen = sdims(ax)
      val restDims = Array.tabulate(nd - 1)(j => sdims(if (j < ax) j else j + 1))
      val restTotal = if (restDims.isEmpty) 1 else restDims.product
      val out = new Array[Double](restTotal)
      val lane = new Array[Double](alen)
      val t = new Array[Int](nd)
      var r = 0
      while (r < restTotal) {
        var rem = r; var j = nd - 2
        while (j >= 0) {
          val d = if (j < ax) j else j + 1
          t(d) = rem % restDims(j); rem /= restDims(j)
          j -= 1
        }
        val str = cStridesI(sdims)
        var base = 0; var d = 0
        while (d < nd) { if (d != ax) base += t(d) * str(d); d += 1 }
        var m = 0
        var a = 0
        while (a < alen) {
          val v = b.data(base + a * str(ax))
          if (!v.isNaN) { lane(m) = v; m += 1 }
          a += 1
        }
        if (m == 0) out(r) = Double.NaN
        else {
          java.util.Arrays.sort(lane, 0, m)
          val pos = qq * (m - 1)
          val lo = pos.toInt
          val hi = math.min(lo + 1, m - 1)
          val frac = pos - lo
          out(r) = lane(lo) * (1.0 - frac) + lane(hi) * frac
        }
        r += 1
      }
      ABlock((0 until nd).filter(_ != ax).map(b.bid), out)
    }
    GArr((0 until nd).filter(_ != ax).map(shape),
      (0 until nd).filter(_ != ax).map(single.chunks), reduced)
  }

  def nanmedianAxis(axis: Int): GArr = nanquantileAxis(axis, 0.5)

  /** numpy `nanprod`: NaNs contribute the identity (an all-NaN lane gives
    * 1.0, the empty product — numpy semantics), riding [[prodAxis]].
    */
  def nanprodAxis(axis: Int): GArr =
    scalarMap(v => if (v.isNaN) 1.0 else v).prodAxis(axis)

  /** numpy `moveaxis(src, dst)` — a transpose permutation (zero shuffle). */
  def moveaxis(src0: Int, dst0: Int): GArr = {
    val src = if (src0 < 0) src0 + ndim else src0
    val dst = if (dst0 < 0) dst0 + ndim else dst0
    require(src >= 0 && src < ndim && dst >= 0 && dst < ndim)
    if (src == dst) this
    else transpose((0 until ndim).filter(_ != src).patch(dst, Seq(src), 0))
  }

  /** numpy `rollaxis(axis, start)` — the legacy moveaxis variant. */
  def rollaxis(axis: Int, start: Int = 0): GArr = {
    val st = if (start > axis) start - 1 else start
    moveaxis(axis, st)
  }

  /** numpy `trace` of a 2-D array: diagonal extraction + the tree-reduce
    * sum (no materialized intermediate beyond the diagonal's blocks).
    */
  def trace: Double = {
    require(ndim == 2, "trace takes a 2-D array")
    diagonal(0, 1).sumAll
  }

  /** numpy `pad(mode='wrap')` along one axis (reference `array/creation.py
    * :1113` pad_reuse 'wrap'): before-pad = the axis tail, after-pad = the
    * axis head — two slices + concat, payload moved O(pad · plane).
    */
  def padWrapAxis(axis: Int, before: Int, after: Int): GArr = {
    val n = shape(axis)
    require(before >= 0 && after >= 0 && before <= n && after <= n,
      s"wrap pad ($before,$after) must be <= axis length $n")
    val full = shape.indices.map(d => (0L, shape(d), 1L))
    def seg(a: Long, b: Long): GArr =
      slice(full.updated(axis, (a, b, 1L)))
        .rechunkTo(chunks.updated(axis, GArr.evenChunks(b - a, math.max(1, (b - a).toInt))))
    val parts = Seq(
      if (before > 0) Some(seg(n - before, n)) else None,
      Some(this),
      if (after > 0) Some(seg(0L, after)) else None).flatten
    if (parts.length == 1) this else GArr.concatenate(axis, parts)
  }

  /** numpy `pad(mode='symmetric')` — reflect INCLUDING the edge plane
    * (creation.py:1117 pad_reuse 'reflect'/'symmetric' differ by exactly
    * this one plane): before-pad = head reversed, after-pad = tail
    * reversed.
    */
  def padSymmetricAxis(axis: Int, before: Int, after: Int): GArr = {
    val n = shape(axis)
    require(before >= 0 && after >= 0 && before <= n && after <= n,
      s"symmetric pad ($before,$after) must be <= axis length $n")
    val full = shape.indices.map(d => (0L, shape(d), 1L))
    def seg(a: Long, b: Long): GArr =
      slice(full.updated(axis, (a, b, 1L)))
        .rechunkTo(chunks.updated(axis, GArr.evenChunks(b - a, math.max(1, (b - a).toInt))))
    val parts = Seq(
      if (before > 0) Some(seg(0L, before).flipAxis(axis)) else None,
      Some(this),
      if (after > 0) Some(seg(n - after, n).flipAxis(axis)) else None).flatten
    if (parts.length == 1) this else GArr.concatenate(axis, parts)
  }

  /** Narrow position-aware elementwise map: `f(value, globalAxisCoord)` —
    * the building block for coordinate-dependent fills (linear_ramp pads,
    * windowing tapers). Zero shuffle.
    */
  def mapWithAxisCoord(axis: Int)(f: (Double, Long) => Double): GArr = {
    require(axis >= 0 && axis < ndim)
    val s = spark
    import s.implicits._
    val nd = ndim
    val ax = axis
    val srcStarts = chunks.map(startsOf)
    copy(blocks = blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val g0 = srcStarts(ax)(b.bid(ax))
      val o = new Array[Double](b.data.length)
      val t = new Array[Int](nd)
      var i = 0
      while (i < o.length) { o(i) = f(b.data(i), g0 + t(ax)); incOdo(t, sdims); i += 1 }
      ABlock(b.bid, o)
    })
  }

  /** numpy `pad(mode='linear_ramp', end_values=)` (creation.py:997
    * linear_ramp_chunk): each pad cell interpolates between `end_value`
    * and its edge-plane value — edge broadcast + a position-aware narrow
    * map, matching numpy's linspace(end, edge, pad+1) sampling exactly.
    */
  def padLinearRampAxis(axis: Int, before: Int, after: Int,
                        endBefore: Double = 0.0, endAfter: Double = 0.0): GArr = {
    require(before >= 0 && after >= 0)
    val full = shape.indices.map(d => (0L, shape(d), 1L))
    val n = shape(axis)
    def edgeRep(at: Long, rep: Int): GArr =
      slice(full.updated(axis, (at, at + 1, 1L)))
        .rechunkTo(chunks.updated(axis, Seq(1)))
        .broadcastAxis(axis, rep.toLong, chunk = rep)
    val bPad =
      if (before > 0) Some(edgeRep(0L, before).mapWithAxisCoord(axis)(
        (edge, g) => endBefore + (edge - endBefore) * g.toDouble / before))
      else None
    val aPad =
      if (after > 0) Some(edgeRep(n - 1, after).mapWithAxisCoord(axis)(
        (edge, g) => edge + (endAfter - edge) * (g + 1).toDouble / after))
      else None
    val parts = Seq(bPad, Some(this), aPad).flatten
    if (parts.length == 1) this else GArr.concatenate(axis, parts)
  }

  /** numpy `pad` stat modes maximum/minimum/mean/median (creation.py:1147
    * pad_stats with the default whole-axis stat_length): one axis
    * reduction, re-expanded and broadcast into the pad slabs.
    */
  def padStatAxis(axis: Int, before: Int, after: Int, stat: String): GArr = {
    require(before >= 0 && after >= 0)
    val reduced = stat match {
      case "maximum" => maxAxis(axis)
      case "minimum" => minAxis(axis)
      case "mean"    => meanAxis(axis)
      case "median"  => medianAxis(axis)
      case other => throw new IllegalArgumentException(
        s"padStatAxis: unknown stat '$other' (maximum | minimum | mean | median)")
    }
    val plane = reduced.expandDims(axis)
    def rep(k: Int): GArr = plane.broadcastAxis(axis, k.toLong, chunk = k)
    val parts = Seq(
      if (before > 0) Some(rep(before)) else None,
      Some(this),
      if (after > 0) Some(rep(after)) else None).flatten
    if (parts.length == 1) this else GArr.concatenate(axis, parts)
  }

  /** numpy/dask `pad` over all axes (reference `array/creation.py:1237`
    * pad: dispatch on mode, padding axis by axis so corner regions see
    * earlier pads as data — numpy's own composition order).
    */
  def pad(padWidth: Seq[(Int, Int)], mode: String = "constant",
          constant: Double = 0.0, endValue: Double = 0.0): GArr = {
    require(padWidth.length == ndim, s"pad needs one (before,after) per axis")
    padWidth.zipWithIndex.foldLeft(this) { case (acc, ((b, a), ax)) =>
      if (b == 0 && a == 0) acc
      else mode match {
        case "constant"    => acc.padAxis(ax, b, a, constant)
        case "edge"        => acc.padEdgeAxis(ax, b, a)
        case "reflect"     => acc.padReflectAxis(ax, b, a)
        case "symmetric"   => acc.padSymmetricAxis(ax, b, a)
        case "wrap"        => acc.padWrapAxis(ax, b, a)
        case "linear_ramp" => acc.padLinearRampAxis(ax, b, a, endValue, endValue)
        case "maximum" | "minimum" | "mean" | "median" =>
          acc.padStatAxis(ax, b, a, mode)
        case other => throw new IllegalArgumentException(
          s"pad: unknown mode '$other'")
      }
    }
  }

  /** numpy `squeeze(axis)` — drop a length-1 axis; pure metadata relabel,
    * zero shuffle.
    */
  def squeeze(axis: Int): GArr = {
    require(shape(axis) == 1L, s"squeeze axis $axis has length ${shape(axis)}")
    val s = spark
    import s.implicits._
    val ax = axis
    GArr(shape.patch(ax, Nil, 1), chunks.patch(ax, Nil, 1),
      blocks.map(b => ABlock(b.bid.patch(ax, Nil, 1), b.data)))
  }

  /** numpy `expand_dims(axis)` — insert a length-1 axis; pure metadata
    * relabel, zero shuffle.
    */
  def expandDims(axis: Int): GArr = {
    require(axis >= 0 && axis <= ndim)
    val s = spark
    import s.implicits._
    val ax = axis
    GArr(shape.patch(ax, Seq(1L), 0), chunks.patch(ax, Seq(Seq(1)), 0),
      blocks.map(b => ABlock(b.bid.patch(ax, Seq(0), 0), b.data)))
  }

  /** numpy `broadcast_to` along a length-1 axis: replicate to `len` with
    * chunk size `chunk`. A 1→many narrow flatMap — each source block emits
    * its tiled copy per destination axis chunk; no shuffle (payload grows
    * by the broadcast factor, which IS the output size).
    */
  def broadcastAxis(axis: Int, len: Long, chunk: Int): GArr = {
    require(shape(axis) == 1L, s"broadcast axis $axis has length ${shape(axis)} (want 1)")
    val s = spark
    import s.implicits._
    val nd = ndim
    val ax = axis
    val srcStarts = chunks.map(startsOf)
    val newChunks = GArr.evenChunks(len, chunk)
    val nAxisBlocks = newChunks.length
    val axSizes = newChunks.toArray
    val out = blocks.flatMap { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      // C-order tiling of a size-1 axis: inner = product of dims after ax,
      // repeat each inner-run `alen` times
      val inner = (ax + 1 until nd).map(sdims(_)).product
      val outerN = b.data.length / inner
      (0 until nAxisBlocks).map { ab =>
        val alen = axSizes(ab)
        val o = new Array[Double](b.data.length * alen)
        var outer = 0
        while (outer < outerN) {
          var r = 0
          while (r < alen) {
            System.arraycopy(b.data, outer * inner, o, (outer * alen + r) * inner, inner)
            r += 1
          }
          outer += 1
        }
        ABlock(b.bid.updated(ax, ab), o)
      }
    }
    GArr(shape.updated(axis, len), chunks.updated(axis, newChunks), out)
  }

  /** Blocked matrix multiply — dask `matmul`/`tensordot` in its 2-D form
    * (reference `array/routines.py:292` matmul, lowered through the same
    * blockwise contraction dask builds). One equi-join on the contracted
    * block coordinate fans A(i,l) against B(l,j), then one partial→final
    * reduce keyed by the output block coordinate (i,j): two shuffles
    * total, every payload bounded by the chunk size — the shape that
    * survives arbitrarily large p×q·q×r at 1000 executors. The output
    * reduce is `reduceGroups`, so the k-deep fan of partial output blocks
    * merges MAP-SIDE before the exchange (one block per task × output
    * coordinate crosses the wire). The inner kernel is the cache-friendly
    * ikj order with NO zero-skip: `0 * NaN = NaN` and `0 * Inf = NaN`
    * propagate exactly as in numpy/dask (a skip would silently contribute
    * 0 for those terms).
    */
  def matmul(other: GArr): GArr = {
    require(ndim == 2 && other.ndim == 2, "matmul takes 2-D arrays")
    require(shape(1) == other.shape(0) && chunks(1) == other.chunks(0),
      s"matmul contraction mismatch: $shape ${chunks(1)} vs ${other.shape} ${other.chunks.head}")
    val s = spark
    import s.implicits._
    val aStarts = chunks.map(startsOf)
    val bStarts = other.chunks.map(startsOf)
    val outGridJ = other.grid(1)
    val l = blocks.map(b => (b.bid(1), b.bid, b.data))
    val r = other.blocks.map(b => (b.bid(0), b.bid, b.data))
    val joined = l.joinWith(r, l("_1") === r("_1"))
    val partials = joined.map { case ((_, abid, a), (_, bbid, bdat)) =>
      val mi = chunkDim(aStarts(0), abid(0))
      val kl = chunkDim(aStarts(1), abid(1))
      val nj = chunkDim(bStarts(1), bbid(1))
      val out = new Array[Double](mi * nj)
      var i = 0
      while (i < mi) {
        var k = 0
        while (k < kl) {
          val av = a(i * kl + k)
          val boff = k * nj
          val ooff = i * nj
          var j = 0
          while (j < nj) { out(ooff + j) += av * bdat(boff + j); j += 1 }
          k += 1
        }
        i += 1
      }
      (abid(0).toLong * outGridJ + bbid(1), Seq(abid(0), bbid(1)), out)
    }
    val reduced = partials.groupByKey(_._1)
      .reduceGroups { (x, y) =>
        val acc = x._3
        var i = 0; while (i < acc.length) { acc(i) += y._3(i); i += 1 }
        x
      }
      .map { case (_, (_, bid, acc)) => ABlock(bid, acc) }
    GArr(Seq(shape(0), other.shape(1)), Seq(chunks(0), other.chunks(1)), reduced)
  }

  /** dask `tensordot` over arbitrary axis pairs (reference
    * `array/routines.py` tensordot, which lowers to the same blockwise
    * contraction): transpose the contracted axes to the inner boundary,
    * reshape both sides to 2-D (one scatter shuffle each — exactly the
    * regrid dask's intermediate rechunk performs), run the blocked
    * [[matmul]], and reshape back to `keepA ++ keepB`. Every stage's
    * payload stays chunk-bounded; nothing driver-side scales with the
    * tensors.
    */
  def tensordot(other: GArr, axesA: Seq[Int], axesB: Seq[Int],
                targetChunk: Int = 65536): GArr = {
    require(axesA.length == axesB.length && axesA.nonEmpty, "tensordot needs axis pairs")
    axesA.zip(axesB).foreach { case (a, b) =>
      require(shape(a) == other.shape(b),
        s"tensordot extent mismatch: dim $a (${shape(a)}) vs dim $b (${other.shape(b)})")
    }
    val keepA = (0 until ndim).filterNot(axesA.contains)
    val keepB = (0 until other.ndim).filterNot(axesB.contains)
    val m = keepA.map(shape).product
    val k = axesA.map(shape).product
    val n = keepB.map(other.shape).product
    def side(len: Long): Int = math.min(len, math.max(1L, math.sqrt(targetChunk.toDouble).toLong)).toInt
    val (cm, ck, cn) = (side(m), side(k), side(n))
    val a2 = transpose(keepA ++ axesA).reshape(Seq(m, k), Seq(cm, ck))
    val b2 = other.transpose(axesB ++ keepB).reshape(Seq(k, n), Seq(ck, cn))
    val c2 = a2.matmul(b2)
    val outShape = keepA.map(shape) ++ keepB.map(other.shape)
    if (outShape.isEmpty) c2.reshape(Seq(1L), Seq(1)) // scalar as length-1
    else c2.reshape(outShape, outShape.map(l => math.min(l, targetChunk.toLong).toInt))
  }

  /** Batched matrix multiply over 3-D arrays (B,L,C) x (B,C,R) -> (B,L,R)
    * — the einsum `bij,bjk->bik` kernel (reference
    * `array/einsumfuncs.py` lowers this through blockwise; numpy matmul
    * stacking rules). Same two-shuffle shape as [[matmul]]: one equi-join
    * on (batch block, contracted block), one partial->final
    * `reduceGroups` (map-side combined) on the output block coordinate.
    * Batch and contraction chunkings must match (einsum callers align
    * them by construction).
    */
  def bmm(other: GArr): GArr = {
    require(ndim == 3 && other.ndim == 3, "bmm takes 3-D arrays")
    require(shape(0) == other.shape(0) && chunks(0) == other.chunks(0),
      s"bmm batch mismatch: $shape ${chunks(0)} vs ${other.shape} ${other.chunks(0)}")
    require(shape(2) == other.shape(1) && chunks(2) == other.chunks(1),
      s"bmm contraction mismatch: $shape ${chunks(2)} vs ${other.shape} ${other.chunks(1)}")
    val s = spark
    import s.implicits._
    val aStarts = chunks.map(startsOf)
    val bStarts = other.chunks.map(startsOf)
    val gridC = chunks(2).length
    val gridI = chunks(1).length
    val gridJ = other.chunks(2).length
    val l = blocks.map(b => (b.bid(0).toLong * gridC + b.bid(2), b.bid, b.data))
    val r = other.blocks.map(b => (b.bid(0).toLong * gridC + b.bid(1), b.bid, b.data))
    val joined = l.joinWith(r, l("_1") === r("_1"))
    val partials = joined.map { case ((_, abid, a), (_, bbid, bdat)) =>
      val bb = chunkDim(aStarts(0), abid(0))
      val mi = chunkDim(aStarts(1), abid(1))
      val kl = chunkDim(aStarts(2), abid(2))
      val nj = chunkDim(bStarts(2), bbid(2))
      val out = new Array[Double](bb * mi * nj)
      var t = 0
      while (t < bb) {
        val aoff = t * mi * kl; val boff = t * kl * nj; val ooff = t * mi * nj
        var i = 0
        while (i < mi) {
          var k = 0
          while (k < kl) {
            val av = a(aoff + i * kl + k)
            val bo = boff + k * nj
            val oo = ooff + i * nj
            var j = 0
            while (j < nj) { out(oo + j) += av * bdat(bo + j); j += 1 }
            k += 1
          }
          i += 1
        }
        t += 1
      }
      ((abid(0).toLong * gridI + abid(1)) * gridJ + bbid(2),
        Seq(abid(0), abid(1), bbid(2)), out)
    }
    val reduced = partials.groupByKey(_._1)
      .reduceGroups { (x, y) =>
        val acc = x._3
        var i = 0; while (i < acc.length) { acc(i) += y._3(i); i += 1 }
        x
      }
      .map { case (_, (_, bid, acc)) => ABlock(bid, acc) }
    GArr(Seq(shape(0), shape(1), other.shape(2)),
      Seq(chunks(0), chunks(1), other.chunks(2)), reduced)
  }

  /** numpy/einsum diagonal over two equal-length axes (`einsum('ii->i')`,
    * np.diagonal): the merged axis keeps `ax1`'s position and chunking,
    * `ax2` is dropped. Only blocks whose ax1/ax2 global ranges intersect
    * emit anything, so the single assembly shuffle moves exactly the
    * output's elements — O(n) of an n×n input.
    */
  def diagonal(ax1: Int, ax2: Int): GArr = {
    require(ax1 != ax2 && shape(ax1) == shape(ax2),
      s"diagonal axes must differ and have equal extents: $ax1/$ax2 on $shape")
    val (a1, a2) = (math.min(ax1, ax2), math.max(ax1, ax2))
    val outShape = shape.patch(a2, Nil, 1)
    val outChunks = chunks.patch(a2, Nil, 1)
    val outGrid = outChunks.map(_.length)
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    val pieces: Dataset[ScatterPiece] = blocks.flatMap { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val s1 = srcStarts(a1)(b.bid(a1)); val s2 = srcStarts(a2)(b.bid(a2))
      val lo = math.max(s1, s2)
      val hi = math.min(s1 + sdims(a1), s2 + sdims(a2))
      if (lo >= hi) Iterator.empty
      else {
        val dstBid = b.bid.patch(a2, Nil, 1)
        val ddims = sdims.patch(a2, Array.empty[Int], 1)
        val sstr = cStridesI(sdims)
        val dstr = cStridesI(ddims)
        val cnt = (hi - lo).toInt
        // rest = all dims except a1 and a2
        val restDims = (0 until nd).filter(d => d != a1 && d != a2).map(sdims).toArray
        val restIdx = (0 until nd).filter(d => d != a1 && d != a2).toArray
        val restTotal = if (restDims.isEmpty) 1 else restDims.product
        val buf = new PieceBuf(linearBidL(dstBid, outGrid), dstBid)
        val t = new Array[Int](restDims.length)
        var r = 0
        while (r < restTotal) {
          var baseS = 0; var baseD = 0
          var q = 0
          while (q < restIdx.length) {
            val d = restIdx(q)
            baseS += t(q) * sstr(d)
            // dest dim index: d if d < a2 else d - 1
            baseD += t(q) * dstr(if (d < a2) d else d - 1)
            q += 1
          }
          var ti = 0
          while (ti < cnt) {
            val c1 = (lo - s1).toInt + ti
            val c2 = (lo - s2).toInt + ti
            buf.add(baseD + c1 * dstr(a1), b.data(baseS + c1 * sstr(a1) + c2 * sstr(a2)))
            ti += 1
          }
          if (restDims.nonEmpty) incOdo(t, restDims)
          r += 1
        }
        Iterator.single(buf.toPiece)
      }
    }
    GArr(outShape, outChunks, assemble(pieces, outChunks))
  }

  /** 1-D inner product (numpy `dot` on vectors): elementwise multiply on
    * co-gridded inputs + tree reduce. The other side is regridded to this
    * array's chunking when they differ.
    */
  def dot(other: GArr): Double = {
    require(ndim == 1 && other.ndim == 1 && shape == other.shape,
      s"dot takes equal-length vectors: $shape vs ${other.shape}")
    val o = if (chunks == other.chunks) other else other.rechunkTo(chunks)
    elemwise(o)(_ * _).sumAll
  }

  /** Rechunk to an EXPLICIT (possibly irregular) chunks structure — the
    * general form of [[rechunk]], same single ScatterPiece shuffle.
    */
  def rechunkTo(newChunks: Seq[Seq[Int]]): GArr = {
    require(newChunks.length == ndim &&
      newChunks.zip(shape).forall { case (cs, l) => cs.map(_.toLong).sum == l },
      s"rechunkTo structure must cover $shape")
    val specs = shape.map(l => (0L, l, 1L))
    regrid(specs, shape, newChunks)
  }

  /** numpy `tril`/`triu` (k-th diagonal): narrow map — each block zeroes
    * its out-of-triangle cells using its global row/col offsets. 2-D only,
    * zero shuffle.
    */
  def tril(k: Long = 0L): GArr = triangle(keepLower = true, k)
  def triu(k: Long = 0L): GArr = triangle(keepLower = false, k)

  private def triangle(keepLower: Boolean, k: Long): GArr = {
    require(ndim == 2, "tril/triu take 2-D arrays")
    val s = spark
    import s.implicits._
    val srcStarts = chunks.map(startsOf)
    copy(blocks = blocks.map { b =>
      val r0 = srcStarts(0)(b.bid(0)); val c0 = srcStarts(1)(b.bid(1))
      val rows = chunkDim(srcStarts(0), b.bid(0))
      val cols = chunkDim(srcStarts(1), b.bid(1))
      val o = b.data.clone()
      var i = 0
      while (i < o.length) {
        val gr = r0 + i / cols; val gc = c0 + i % cols
        val in = if (keepLower) gc - gr <= k else gc - gr >= k
        if (!in) o(i) = 0.0
        i += 1
      }
      ABlock(b.bid, o)
    })
  }

  /** dask array shuffle (`array/_shuffle.py:1-328`): regroup indices along
    * `axis` into new chunks given explicit index groups (the indexer is
    * driver-provided, exactly as in the reference API). Elements route to
    * (group chunk, position-in-group) in one scatter shuffle; duplicate
    * source indices are allowed (take semantics), omitted ones drop.
    */
  def shuffleAxis(axis: Int, groups: Seq[Seq[Long]]): GArr = {
    val s = spark
    import s.implicits._
    val nd = ndim
    val srcStarts = chunks.map(startsOf)
    // srcIdx -> targets (dstChunk, dstOffset)
    val routing: Map[Long, Array[(Int, Int)]] = {
      val m = scala.collection.mutable.HashMap[Long, List[(Int, Int)]]()
      groups.zipWithIndex.foreach { case (g, gi) =>
        g.zipWithIndex.foreach { case (src, off) =>
          m(src) = (gi, off) :: m.getOrElse(src, Nil)
        }
      }
      m.map { case (k, v) => (k, v.toArray) }.toMap
    }
    val bc = s.sparkContext.broadcast(routing)
    val newAxisChunks = groups.map(_.size)
    val newChunks = chunks.updated(axis, newAxisChunks)
    val newShape = shape.updated(axis, groups.map(_.size.toLong).sum)
    val dstGridS = newChunks.map(_.length)
    val dstStartsB = newChunks.map(startsOf)
    val pieces: Dataset[ScatterPiece] = blocks.flatMap { b =>
      val route = bc.value
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val gstartAxis = srcStarts(axis)(b.bid(axis))
      val bufs = scala.collection.mutable.LinkedHashMap[Long, PieceBuf]()
      val t = new Array[Int](nd)
      var i = 0
      while (i < b.data.length) {
        val srcAxisIdx = gstartAxis + t(axis)
        route.get(srcAxisIdx) match {
          case Some(targets) =>
            var ti = 0
            while (ti < targets.length) {
              val (gi, off) = targets(ti)
              val dstBid = b.bid.updated(axis, gi)
              val ddims = Array.tabulate(nd)(d =>
                if (d == axis) newAxisChunks(gi) else sdims(d))
              val dstr = cStridesI(ddims)
              var dofs = 0; var d = 0
              while (d < nd) { dofs += (if (d == axis) off else t(d)) * dstr(d); d += 1 }
              bufs.getOrElseUpdate(linearBidL(dstBid, dstGridS),
                  new PieceBuf(linearBidL(dstBid, dstGridS), dstBid))
                .add(dofs, b.data(i))
              ti += 1
            }
          case None =>
        }
        incOdo(t, sdims)
        i += 1
      }
      bufs.valuesIterator.map(_.toPiece)
    }
    GArr(newShape, newChunks, assemble(pieces, newChunks))
  }

  /** `apply_gufunc` with signature `(i)->(j)` over the last axis
    * (reference `array/gufunc.py:819`): the core dimension must be
    * single-chunk (dask has the same constraint — core dims cannot be
    * chunked), loop dims stay chunked and parallel. Narrow, no shuffle.
    */
  def applyGufunc(coreOut: Int)(f: Array[Double] => Array[Double]): GArr = {
    require(chunks.last.length == 1, "gufunc core dimension must be single-chunk")
    val s = spark
    import s.implicits._
    val coreIn = shape.last.toInt
    val out = blocks.map { b =>
      val nRows = b.data.length / coreIn
      val o = new Array[Double](nRows * coreOut)
      val row = new Array[Double](coreIn)
      var r = 0
      while (r < nRows) {
        System.arraycopy(b.data, r * coreIn, row, 0, coreIn)
        val res = f(row)
        require(res.length == coreOut, s"gufunc kernel returned ${res.length}, declared $coreOut")
        System.arraycopy(res, 0, o, r * coreOut, coreOut)
        r += 1
      }
      ABlock(b.bid, o)
    }
    GArr(shape.init :+ coreOut.toLong, chunks.init :+ Seq(coreOut), out)
  }

  /** Assemble scatter pieces into destination blocks (the single shuffle
    * of every grid-changing op). Destination cells not covered by any
    * piece are 0.0 — slice/rechunk/reshape cover every cell by
    * construction, shuffleAxis covers every cell of every group.
    */
  private def assemble(pieces: Dataset[ScatterPiece],
                       newChunks: Seq[Seq[Int]]): Dataset[ABlock] = {
    val s = spark
    import s.implicits._
    val ncB = newChunks.map(_.toArray)
    pieces.groupByKey(_.key).mapGroups { (_, it) =>
      val first = it.next()
      val bid = first.bid
      val dims = Array.tabulate(bid.length)(d => ncB(d)(bid(d)))
      val buf = new Array[Double](math.max(dims.product, 1))
      def put(p: ScatterPiece): Unit = {
        var i = 0
        while (i < p.offs.length) { buf(p.offs(i)) = p.vals(i); i += 1 }
      }
      put(first); it.foreach(put)
      ABlock(bid, buf)
    }
  }
}

object GArr {
  private[operators] final case class DimEntry(ib: Int, jb: Int, src0: Int,
                                               step: Long, dst0: Int, cnt: Int,
                                               dstStep: Int = 1)

  /** Growable per-destination-block scatter buffer (`key` = the block's
    * linear index in the destination grid).
    */
  private[operators] final class PieceBuf(val key: Long, val bid: Seq[Int]) {
    private val offs = scala.collection.mutable.ArrayBuilder.make[Int]
    private val vals = scala.collection.mutable.ArrayBuilder.make[Double]
    def add(off: Int, v: Double): Unit = { offs += off; vals += v }
    def toPiece: ScatterPiece = ScatterPiece(key, bid, offs.result(), vals.result())
  }

  /** Incremental C-order walker over a chunked grid: tracks, for a global
    * flat index advanced one element at a time, the destination block id
    * and the local offset inside it — O(1) amortized per step, O(ndim) on
    * row/chunk carries. Used by reshape's scatter side.
    */
  private[operators] final class FlatWalker(shape: Array[Long],
                                            starts: Array[Array[Long]]) {
    private val nd = shape.length
    private val coord = new Array[Long](nd)
    private val chunkIdx = new Array[Int](nd)
    private val local = new Array[Int](nd)
    private val gridDims = Array.tabulate(nd)(d => starts(d).length - 1)
    private var key: Long = -1L
    private var bid: Seq[Int] = _
    private var dirty = true

    def seek(flat: Long): Unit = {
      var rem = flat
      var d = nd - 1
      while (d >= 0) {
        coord(d) = rem % shape(d); rem /= shape(d)
        val ci = Positions.locate(starts(d), coord(d))
        chunkIdx(d) = ci
        local(d) = (coord(d) - starts(d)(ci)).toInt
        d -= 1
      }
      dirty = true
    }

    def advance(): Unit = {
      var d = nd - 1
      var carry = true
      while (carry && d >= 0) {
        coord(d) += 1
        if (coord(d) == shape(d)) {
          coord(d) = 0; chunkIdx(d) = 0; local(d) = 0
          d -= 1
        } else {
          local(d) += 1
          if (starts(d)(chunkIdx(d) + 1) == coord(d)) {
            chunkIdx(d) += 1; local(d) = 0; dirty = true
          }
          carry = false
        }
      }
      if (d != nd - 1) dirty = true // crossed a row boundary: bid may change
    }

    private def refresh(): Unit = {
      bid = chunkIdx.toSeq
      var o = 0L; var d = 0
      while (d < nd) { o = o * gridDims(d) + chunkIdx(d); d += 1 }
      key = o
      dirty = false
    }
    def bidKey: Long = { if (dirty) refresh(); key }
    def bidSnapshot: Seq[Int] = { if (dirty) refresh(); bid }
    def localOff: Int = {
      var o = 0; var d = 0
      while (d < nd) {
        val dim = (starts(d)(chunkIdx(d) + 1) - starts(d)(chunkIdx(d))).toInt
        o = o * dim + local(d)
        d += 1
      }
      o
    }
  }

  /** Extract the hyperplane slab with axis coordinate in [a0, a1) from a
    * C-order block, returned in the slab's own C-order.
    */
  private[operators] def slabOf(data: Array[Double], dims: Array[Int],
                                axis: Int, a0: Int, a1: Int): Array[Double] = {
    val nd = dims.length
    val sdimsSlab = dims.clone(); sdimsSlab(axis) = a1 - a0
    val out = new Array[Double](sdimsSlab.product)
    val str = cStridesI(dims)
    val t = new Array[Int](nd)
    var i = 0
    while (i < out.length) {
      var so = 0; var j = 0
      while (j < nd) { so += (if (j == axis) t(j) + a0 else t(j)) * str(j); j += 1 }
      out(i) = data(so)
      incOdo(t, sdimsSlab)
      i += 1
    }
    out
  }

  /** Place a slab (its own C-order) into `dst` (dims `ddims`) at axis
    * coordinates [lo, hi).
    */
  private[operators] def placeSlab(slab: Array[Double], dst: Array[Double],
                                   ddims: Array[Int], axis: Int, lo: Int, hi: Int): Unit = {
    val nd = ddims.length
    val sdimsSlab = ddims.clone(); sdimsSlab(axis) = hi - lo
    val str = cStridesI(ddims)
    val t = new Array[Int](nd)
    var i = 0
    while (i < slab.length) {
      var dOff = 0; var j = 0
      while (j < nd) { dOff += (if (j == axis) t(j) + lo else t(j)) * str(j); j += 1 }
      dst(dOff) = slab(i)
      incOdo(t, sdimsSlab)
      i += 1
    }
  }

  private[operators] def linearBid(bid: Seq[Int], grid: Seq[Int]): Int = {
    var o = 0; var d = 0
    while (d < bid.length) { o = o * grid(d) + bid(d); d += 1 }
    o
  }

  /** C-order linear block index as a Long — the equi-join / groupBy key of
    * the block-zip hot paths (elemwise/where/scan/matmul). Numeric keys
    * hash and compare cheaper than the `"1,2"`-style strings `keyOf`
    * produces and shave shuffle bytes on grids with millions of blocks.
    */
  private[operators] def linearBidL(bid: Seq[Int], grid: Seq[Int]): Long = {
    var o = 0L; var d = 0
    while (d < bid.length) { o = o * grid(d) + bid(d); d += 1 }
    o
  }

  private[operators] def startsOf(cs: Seq[Int]): Array[Long] =
    cs.scanLeft(0L)(_ + _).toArray

  /** C-order coordinates of linear index `flat` in a grid of `dims`. */
  private[operators] def unravel(flat: Long, dims: Array[Int]): Array[Int] = {
    val c = new Array[Int](dims.length)
    var rem = flat
    var d = dims.length - 1
    while (d >= 0) { c(d) = (rem % dims(d)).toInt; rem /= dims(d); d -= 1 }
    c
  }

  private[operators] def chunkDim(starts: Array[Long], i: Int): Int =
    (starts(i + 1) - starts(i)).toInt

  private[operators] def cStrides(shape: Seq[Long]): Array[Long] = {
    val nd = shape.length
    val st = new Array[Long](nd)
    var acc = 1L
    var d = nd - 1
    while (d >= 0) { st(d) = acc; acc *= shape(d); d -= 1 }
    st
  }

  private[operators] def cStridesI(dims: Array[Int]): Array[Int] = {
    val nd = dims.length
    val st = new Array[Int](nd)
    var acc = 1
    var d = nd - 1
    while (d >= 0) { st(d) = acc; acc *= dims(d); d -= 1 }
    st
  }

  /** Advance a C-order odometer over `dims(0..maxDim)`; returns false on
    * wrap-around (= iteration complete).
    */
  private[operators] def incOdo(t: Array[Int], dims: Array[Int],
                                maxDim: Int = -1): Boolean = {
    var d = if (maxDim >= 0) maxDim else t.length - 1
    while (d >= 0) {
      t(d) += 1
      if (t(d) < dims(d)) return true
      t(d) = 0
      d -= 1
    }
    false
  }

  private[operators] def ceilDiv(a: Long, b: Long): Long =
    if (a >= 0) (a + b - 1) / b else -((-a) / b)

  def evenChunks(len: Long, chunk: Int): Seq[Int] = {
    require(len >= 0 && chunk > 0)
    if (len == 0) Seq(0)
    else {
      val n = ((len + chunk - 1) / chunk).toInt
      (0 until n).map(i => math.min(chunk.toLong, len - i.toLong * chunk).toInt)
    }
  }

  private def chooseChunks(lens: Seq[Long], targetChunk: Int): Seq[Seq[Int]] =
    lens.map(l => evenChunks(l, math.max(1, targetChunk)))

  /** 1-D array from a DataFrame column in a caller-defined total order —
    * the `from_dask_dataframe`/`Series.values` bridge. Distributed sort
    * (no single-partition window), then the positional layer: one
    * [[Positions.starts]] job and one [[Positions.pack]] shuffle. The
    * length comes out of the counts job itself; no separate `df.count()`,
    * which is a full extra execution for sort+limit or filtered inputs.
    */
  def fromColumn(df: DataFrame, valueCol: String, orderBy: Seq[String],
                 chunk: Int): GArr = {
    import org.apache.spark.sql.functions.col
    val s = df.sparkSession
    import s.implicits._
    val sorted = df
      .select((orderBy :+ valueCol).map(col): _*)
      .sort(orderBy.map(col): _*)
      .select(col(valueCol).cast("double"))
    // InternalRow read (r15): Dataset.rdd would deserialize every element
    // to an external Row first; the primitive read needs no copy because
    // the double is unboxed immediately. The pack re-reads the sort's
    // shuffle files, so the sort itself runs once.
    val rdd = InternalScan.rddOf(sorted)
    val starts = Positions.starts(rdd)
    val n = starts.last
    val cs = evenChunks(n, chunk)
    val packed = Positions.pack(rdd, starts, 1, chunk)((r, _) => r.getDouble(0))
      .map { case (b, a) => ABlock(Seq(b), a) }
    GArr(Seq(n), Seq(cs), s.createDataset(packed))
  }

  /** 2-D array from several DataFrame columns in a caller-defined total
    * order — dask's `df.values` / `from_dask_dataframe` bridge for
    * matrices (reference `dask/dataframe/dask_expr/_collection.py`
    * `.values`): rows become axis 0, `valueCols` become axis 1 (single
    * column-chunk, like dask's one-block column dimension). Same
    * distributed sort and positional pack as [[fromColumn]].
    */
  def fromColumns(df: DataFrame, valueCols: Seq[String], orderBy: Seq[String],
                  chunk: Int): GArr = {
    import org.apache.spark.sql.functions.col
    require(valueCols.nonEmpty)
    val s = df.sparkSession
    import s.implicits._
    val w = valueCols.length
    val sorted = df
      .select((orderBy ++ valueCols).distinct.map(col): _*)
      .sort(orderBy.map(col): _*)
      .select(valueCols.map(c => col(c).cast("double")): _*)
    // InternalRow read (r15): the pack copies the w doubles out of the
    // reused row buffer immediately, so no row copy is needed
    val rdd = InternalScan.rddOf(sorted)
    val starts = Positions.starts(rdd)
    val n = starts.last
    val cs = evenChunks(n, chunk)
    val packed = Positions.pack(rdd, starts, w, chunk)((r, j) => r.getDouble(j))
      .map { case (b, a) => ABlock(Seq(b, 0), a) }
    GArr(Seq(n, w.toLong), Seq(cs, Seq(w)), s.createDataset(packed))
  }

  /** Build from a coordinate function — `fromfunction`/`arange`-style
    * construction (reference `array/creation.py:306`), parallel over the
    * block grid.
    */
  def fromFunction(s: SparkSession, shape: Seq[Long], chunkSizes: Seq[Int])
                  (f: Array[Long] => Double): GArr = {
    import s.implicits._
    val chunks = shape.zip(chunkSizes).map { case (l, c) => evenChunks(l, c) }
    val grid = chunks.map(_.length)
    val nb = grid.map(_.toLong).product
    val starts = chunks.map(startsOf)
    val nd = shape.length
    val ds = s.range(nb).map { flat: java.lang.Long =>
      val bid = new Array[Int](nd)
      var rem = flat.longValue
      var d = nd - 1
      while (d >= 0) { bid(d) = (rem % grid(d)).toInt; rem /= grid(d); d -= 1 }
      val dims = Array.tabulate(nd)(d => chunkDim(starts(d), bid(d)))
      val gstart = Array.tabulate(nd)(d => starts(d)(bid(d)))
      val total = dims.product
      val data = new Array[Double](total)
      val t = new Array[Int](nd)
      val g = new Array[Long](nd)
      var i = 0
      while (i < total) {
        var d2 = 0
        while (d2 < nd) { g(d2) = gstart(d2) + t(d2); d2 += 1 }
        data(i) = f(g)
        incOdo(t, dims)
        i += 1
      }
      ABlock(bid.toSeq, data)
    }
    GArr(shape, chunks, ds)
  }

  /** Creation suite (reference `array/creation.py`: zeros/ones/full/
    * arange/linspace/eye) — all grid-parallel [[fromFunction]] instances,
    * zero driver data.
    */
  def zeros(s: SparkSession, shape: Seq[Long], chunkSizes: Seq[Int]): GArr =
    fromFunction(s, shape, chunkSizes)(_ => 0.0)
  def ones(s: SparkSession, shape: Seq[Long], chunkSizes: Seq[Int]): GArr =
    fromFunction(s, shape, chunkSizes)(_ => 1.0)
  def full(s: SparkSession, shape: Seq[Long], chunkSizes: Seq[Int], value: Double): GArr =
    fromFunction(s, shape, chunkSizes)(_ => value)

  def arange(s: SparkSession, start: Double, stop: Double, step: Double,
             chunk: Int): GArr = {
    require(step != 0.0, "arange step must be nonzero")
    val n = math.max(0L, math.ceil((stop - start) / step).toLong)
    fromFunction(s, Seq(n), Seq(chunk))(g => start + g(0) * step)
  }

  def linspace(s: SparkSession, start: Double, stop: Double, num: Long,
               chunk: Int): GArr = {
    require(num >= 2, "linspace needs num >= 2 (endpoint included)")
    val step = (stop - start) / (num - 1)
    fromFunction(s, Seq(num), Seq(chunk))(g => start + g(0) * step)
  }

  def eye(s: SparkSession, n: Long, chunk: Int, k: Long = 0L): GArr =
    fromFunction(s, Seq(n, n), Seq(chunk, chunk))(g => if (g(1) - g(0) == k) 1.0 else 0.0)

  /** Like [[fromFunction]] but over an EXPLICIT (possibly irregular)
    * chunks structure — used by ops that must mirror an existing array's
    * grid exactly (e.g. [[GArr.padAxis]] pads). The kernel receives
    * (bid, blockDims) and returns the block payload. Parallel over the
    * block grid, zero driver data.
    */
  def fromChunksGrid(s: SparkSession, shape: Seq[Long], chunks: Seq[Seq[Int]])
                    (f: (Seq[Int], Array[Int]) => Array[Double]): GArr = {
    import s.implicits._
    val grid = chunks.map(_.length)
    val nb = grid.map(_.toLong).product
    val starts = chunks.map(startsOf)
    val nd = shape.length
    val ds = s.range(nb).map { flat: java.lang.Long =>
      val bid = new Array[Int](nd)
      var rem = flat.longValue
      var d = nd - 1
      while (d >= 0) { bid(d) = (rem % grid(d)).toInt; rem /= grid(d); d -= 1 }
      val dims = Array.tabulate(nd)(d => chunkDim(starts(d), bid(d)))
      val data = f(bid.toSeq, dims)
      require(data.length == dims.product,
        s"fromChunksGrid kernel returned ${data.length}, expected ${dims.product}")
      ABlock(bid.toSeq, data)
    }
    GArr(shape, chunks, ds)
  }

  /** numpy/dask `concatenate` along `axis` (reference `array/core.py`
    * concatenate): pure metadata relabel + `union` — each input block
    * keeps its payload and gets its axis block-coordinate offset by the
    * preceding arrays' grid lengths. Zero shuffle at any scale; non-axis
    * dims must share shape and chunking (rechunk first otherwise, exactly
    * as dask does).
    */
  def concatenate(axis: Int, arrs: Seq[GArr]): GArr = {
    require(arrs.nonEmpty, "concatenate of nothing")
    val h = arrs.head
    val nd = h.ndim
    require(axis >= 0 && axis < nd && arrs.forall(_.ndim == nd),
      s"concatenate axis $axis over ndim $nd")
    for (d <- 0 until nd if d != axis)
      require(arrs.forall(a => a.shape(d) == h.shape(d) && a.chunks(d) == h.chunks(d)),
        s"concatenate: non-axis dim $d differs in shape or chunking")
    val s = h.blocks.sparkSession
    import s.implicits._
    val offs = arrs.map(_.grid(axis)).scanLeft(0)(_ + _)
    val shifted = arrs.zip(offs).map { case (a, off) =>
      a.blocks.map(b => ABlock(b.bid.updated(axis, b.bid(axis) + off), b.data))
    }.reduce(_ union _)
    GArr(h.shape.updated(axis, arrs.map(_.shape(axis)).sum),
      h.chunks.updated(axis, arrs.flatMap(_.chunks(axis))), shifted)
  }

  /** numpy/dask `stack`: new leading unit axis per input, then concat. */
  def stack(arrs: Seq[GArr]): GArr = {
    require(arrs.nonEmpty, "stack of nothing")
    val lifted = arrs.map { a =>
      val s = a.blocks.sparkSession
      import s.implicits._
      GArr(1L +: a.shape, Seq(1) +: a.chunks,
        a.blocks.map(b => ABlock(0 +: b.bid, b.data)))
    }
    concatenate(0, lifted)
  }

  /** numpy `vstack`/`hstack`/`dstack` — concatenate compositions with
    * numpy's 1-D promotion rules.
    */
  def vstack(arrs: Seq[GArr]): GArr =
    concatenate(0, arrs.map(a => if (a.ndim == 1) a.expandDims(0) else a))
  def hstack(arrs: Seq[GArr]): GArr =
    if (arrs.head.ndim == 1) concatenate(0, arrs) else concatenate(1, arrs)
  def dstack(arrs: Seq[GArr]): GArr =
    concatenate(2, arrs.map { a =>
      if (a.ndim == 1) a.expandDims(0).expandDims(2)
      else if (a.ndim == 2) a.expandDims(2)
      else a
    })

  /** numpy `tri(n, k)` — lower-triangular ones (reference
    * `array/creation.py`), grid-parallel like [[eye]].
    */
  def tri(s: SparkSession, n: Long, chunk: Int, k: Long = 0L): GArr =
    fromFunction(s, Seq(n, n), Seq(chunk, chunk))(g => if (g(1) - g(0) <= k) 1.0 else 0.0)

  /** numpy `diag(v)` for a 1-D chunked vector: the n×n matrix with `v` on
    * the k=0 diagonal. Each vector block emits ONE piece into its own
    * (i,i) diagonal block — the assembly shuffle moves exactly n values;
    * off-diagonal blocks are materialized lazily as zero blocks by a
    * grid-parallel union (no data crosses for them).
    */
  def diagMatrix(v: GArr): GArr = {
    require(v.ndim == 1, s"diagMatrix takes a 1-D vector: ${v.shape}")
    val s = v.blocks.sparkSession
    import s.implicits._
    val n = v.shape.head
    val cs = v.chunks.head
    val outChunks = Seq(cs, cs)
    val grid1 = cs.length
    val starts = startsOf(cs)
    // diagonal blocks from vector data (one piece per block)
    val diagPieces: Dataset[ScatterPiece] = v.blocks.map { b =>
      val i = b.bid.head
      val dim = b.data.length
      val offs = Array.tabulate(dim)(t => t * dim + t)
      ScatterPiece(i.toLong * grid1 + i, Seq(i, i), offs, b.data)
    }
    // zero blocks for every off-diagonal coordinate (narrow, no payload
    // shuffled — generated in place)
    val zeros = s.range(grid1.toLong * grid1)
      .filter(x => (x / grid1) != (x % grid1))
      .map { flat =>
        val bi = (flat / grid1).toInt; val bj = (flat % grid1).toInt
        val di = chunkDim(starts, bi); val dj = chunkDim(starts, bj)
        ABlock(Seq(bi, bj), new Array[Double](di * dj))
      }
    val assembledDiag = {
      val ncB = outChunks.map(_.toArray)
      diagPieces.groupByKey(_.key).mapGroups { (_, it) =>
        val p = it.next()
        val dims = Array.tabulate(2)(d => ncB(d)(p.bid(d)))
        val buf = new Array[Double](dims.product)
        var i = 0
        while (i < p.offs.length) { buf(p.offs(i)) = p.vals(i); i += 1 }
        ABlock(p.bid, buf)
      }
    }
    GArr(Seq(n, n), outChunks, assembledDiag.union(zeros))
  }

  /** numpy `repeat(a, reps, axis)` — each element repeated `reps` times
    * along `axis`. Pure narrow map: every block expands in place (the
    * axis chunking scales by `reps`), zero shuffle.
    */
  def repeatAxis(a: GArr, axis: Int, reps: Int): GArr = {
    require(reps >= 1 && axis >= 0 && axis < a.ndim)
    val s = a.blocks.sparkSession
    import s.implicits._
    val nd = a.ndim
    val srcStarts = a.chunks.map(startsOf)
    val ax = axis
    val out = a.blocks.map { b =>
      val sdims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val inner = (ax + 1 until nd).map(sdims(_)).product
      val alen = sdims(ax)
      val outer = b.data.length / math.max(1, inner * alen)
      val o = new Array[Double](b.data.length * reps)
      var u = 0
      while (u < outer) {
        var i = 0
        while (i < alen) {
          val src = (u * alen + i) * inner
          var r = 0
          while (r < reps) {
            System.arraycopy(b.data, src, o, ((u * alen + i) * reps + r) * inner, inner)
            r += 1
          }
          i += 1
        }
        u += 1
      }
      ABlock(b.bid, o)
    }
    GArr(a.shape.updated(ax, a.shape(ax) * reps),
      a.chunks.updated(ax, a.chunks(ax).map(_ * reps)), out)
  }

  /** numpy `tile` along one axis: whole-array repetition — zero-shuffle
    * concatenate of block-relabelled copies.
    */
  def tileAxis(a: GArr, axis: Int, reps: Int): GArr = {
    require(reps >= 1)
    concatenate(axis, Seq.fill(reps)(a))
  }

  /** numpy `average(a, axis, weights)` — weighted mean along an axis as
    * an elemwise+reduction composition (weights broadcast is the
    * caller's choice of grid, as in dask).
    */
  def average(a: GArr, axis: Int, weights: GArr): GArr = {
    val num = a.elemwise(weights)(_ * _).sumAxis(axis)
    val den = weights.sumAxis(axis)
    num.elemwise(den)(_ / _)
  }

  /** numpy `kron(a, b)` for 2-D arrays — the einsum+reshape composition
    * `ij,kl->ikjl` then collapse to (m·p, n·q): every stage is the
    * already-bounded blocked machinery, nothing driver-side.
    */
  def kron(a: GArr, b: GArr, targetChunk: Int = 65536): GArr = {
    require(a.ndim == 2 && b.ndim == 2, "kron takes 2-D arrays")
    val outShape = Seq(a.shape(0) * b.shape(0), a.shape(1) * b.shape(1))
    val side = math.max(1L, math.sqrt(targetChunk.toDouble).toLong)
    Einsum.einsum("ij,kl->ikjl", Seq(a, b), targetChunk)
      .reshape(outShape, outShape.map(l => math.min(l, side).toInt))
  }

  /** numpy/dask `apply_along_axis`: a 1-D kernel over every lane along
    * `axis` (out length may differ). Composition: transpose the axis
    * last, rechunk it single-chunk (dask's own gufunc core-dim
    * contract), run [[GArr.applyGufunc]], transpose back.
    */
  def applyAlongAxis(a: GArr, axis: Int, outLen: Int)(
      f: Array[Double] => Array[Double]): GArr = {
    val nd = a.ndim
    val perm = (0 until nd).filter(_ != axis) :+ axis
    val moved = a.transpose(perm)
    val single =
      if (moved.chunks.last.length == 1) moved
      else moved.rechunkTo(moved.chunks.init :+ Seq(moved.shape.last.toInt))
    val applied = single.applyGufunc(outLen)(f)
    // inverse permutation restores the axis position
    val inv = perm.zipWithIndex.sortBy(_._1).map(_._2)
    applied.transpose(inv)
  }

}
