package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One chunk of a distributed complex ndarray: same grid contract as
  * [[ABlock]], with the real and imaginary planes stored side by side so
  * every elementwise/FFT kernel sees both without a join.
  */
final case class CBlock(bid: Seq[Int], re: Array[Double], im: Array[Double])

/** Complex strip piece shuffled between FFT phases. */
final case class CPiece(strip: Int, offs: Array[Int],
                        re: Array[Double], im: Array[Double])

/** Distributed chunked COMPLEX ndarray — the complex128 arrays dask's FFT
  * surface produces (reference `dask/array/fft.py:118-251`, where every
  * `fft_wrap`ped transform returns a complex dask array that downstream
  * transforms consume). Representation mirrors [[GArr]]: driver-held
  * `shape`/`chunks`, worker-held blocks, and movement between chunk grids
  * done by packing re/im into one interleaved [[GArr]] (trailing axis of
  * length 2) so a complex rechunk is ONE scatter shuffle of the same byte
  * count a complex128 array would move — not two shuffles plus a join.
  */
final case class CArr(shape: Seq[Long], chunks: Seq[Seq[Int]], blocks: Dataset[CBlock]) {
  import GArr._

  def ndim: Int = shape.length
  def grid: Seq[Int] = chunks.map(_.length)
  private def spark: SparkSession = blocks.sparkSession

  /** Real / imaginary parts as ordinary [[GArr]]s (narrow maps). */
  def reArr: GArr = {
    val s = spark; import s.implicits._
    GArr(shape, chunks, blocks.map(b => ABlock(b.bid, b.re)))
  }
  def imArr: GArr = {
    val s = spark; import s.implicits._
    GArr(shape, chunks, blocks.map(b => ABlock(b.bid, b.im)))
  }

  /** dask `persist` for complex arrays (multi-consumer spectra — e.g. a
    * DC probe plus a Parseval sum off one transform — compute the FFT
    * lineage once).
    */
  def persist(): CArr =
    copy(blocks = blocks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  def unpersist(): CArr = copy(blocks = blocks.unpersist())

  /** Complex conjugate — narrow. */
  def conj: CArr = mapParts((r, i) => (r, negated(i)))

  /** Multiply by a real scalar — narrow. */
  def scale(k: Double): CArr =
    mapParts((r, i) => (scaled(r, k), scaled(i, k)))

  private def negated(a: Array[Double]): Array[Double] = {
    val o = new Array[Double](a.length)
    var j = 0; while (j < a.length) { o(j) = -a(j); j += 1 }; o
  }
  private def scaled(a: Array[Double], k: Double): Array[Double] = {
    val o = new Array[Double](a.length)
    var j = 0; while (j < a.length) { o(j) = a(j) * k; j += 1 }; o
  }

  def mapParts(f: (Array[Double], Array[Double]) => (Array[Double], Array[Double])): CArr = {
    val s = spark; import s.implicits._
    copy(blocks = blocks.map { b =>
      val (r, i) = f(b.re, b.im)
      CBlock(b.bid, r, i)
    })
  }

  /** Pack into one real [[GArr]] with a trailing interleave axis of length
    * 2 (C order ⇒ re/im adjacent per element) — the bridge that lets every
    * GArr movement primitive (rechunk/slice/flip/concat) run on complex
    * data in a single shuffle.
    */
  def packed: GArr = {
    val s = spark; import s.implicits._
    val out = blocks.map { b =>
      val o = new Array[Double](b.re.length * 2)
      var j = 0
      while (j < b.re.length) { o(2 * j) = b.re(j); o(2 * j + 1) = b.im(j); j += 1 }
      ABlock(b.bid :+ 0, o)
    }
    GArr(shape :+ 2L, chunks :+ Seq(2), out)
  }

  /** Complex rechunk: pack → one scatter shuffle → unpack. */
  def rechunkTo(newChunks: Seq[Seq[Int]]): CArr =
    CArr.unpack(packed.rechunkTo(newChunks :+ Seq(2)))

  /** Basic slice over the complex grid (one shuffle via the packed form). */
  def slice(specs: Seq[(Long, Long, Long)], targetChunk: Int = 65536): CArr =
    CArr.unpack(packed.slice(specs :+ (0L, 2L, 1L), targetChunk))

  def flipAxis(axis: Int): CArr = CArr.unpack(packed.flipAxis(axis))

  /** Elementwise complex multiply (the spectral-domain operator behind FFT
    * convolution): one co-gridded block zip, complex (a+bi)(c+di) per cell.
    */
  def hadamard(other: CArr): CArr = {
    require(shape == other.shape && chunks == other.chunks,
      s"hadamard requires identical chunk grids: $shape/$chunks vs ${other.shape}/${other.chunks}")
    val s = spark; import s.implicits._
    val g = grid
    val l = blocks.map(b => (GArr.linearBidL(b.bid, g), b))
    val r = other.blocks.map(b => (GArr.linearBidL(b.bid, g), b))
    val joined = l.joinWith(r, l("_1") === r("_1"))
    copy(blocks = joined.map { case ((_, a), (_, b)) =>
      val n = a.re.length
      val or = new Array[Double](n); val oi = new Array[Double](n)
      var j = 0
      while (j < n) {
        or(j) = a.re(j) * b.re(j) - a.im(j) * b.im(j)
        oi(j) = a.re(j) * b.im(j) + a.im(j) * b.re(j)
        j += 1
      }
      CBlock(a.bid, or, oi)
    })
  }

  /** |z| per cell as a real array — narrow. */
  def magnitude: GArr = {
    val s = spark; import s.implicits._
    GArr(shape, chunks, blocks.map { b =>
      val o = new Array[Double](b.re.length)
      var j = 0
      while (j < o.length) { o(j) = math.hypot(b.re(j), b.im(j)); j += 1 }
      ABlock(b.bid, o)
    })
  }

  /** arg(z) per cell (numpy `angle`) — narrow. */
  def angle: GArr = {
    val s = spark; import s.implicits._
    GArr(shape, chunks, blocks.map { b =>
      val o = new Array[Double](b.re.length)
      var j = 0
      while (j < o.length) { o(j) = math.atan2(b.im(j), b.re(j)); j += 1 }
      ABlock(b.bid, o)
    })
  }
}

object CArr {
  /** Lift a real array to complex (im = 0) — narrow. */
  def fromReal(a: GArr): CArr = {
    val s = a.blocks.sparkSession; import s.implicits._
    CArr(a.shape, a.chunks,
      a.blocks.map(b => CBlock(b.bid, b.data, new Array[Double](b.data.length))))
  }

  /** Zip two co-gridded real arrays into a complex one (one equi-join on
    * the numeric block id, as [[GArr.elemwise]]).
    */
  def fromParts(re: GArr, im: GArr): CArr = {
    require(re.shape == im.shape && re.chunks == im.chunks,
      s"fromParts requires identical chunk grids: ${re.shape} vs ${im.shape}")
    val s = re.blocks.sparkSession; import s.implicits._
    val g = re.grid
    val l = re.blocks.map(b => (GArr.linearBidL(b.bid, g), b.bid, b.data))
    val r = im.blocks.map(b => (GArr.linearBidL(b.bid, g), b.data))
    val joined = l.joinWith(r, l("_1") === r("_1"))
    CArr(re.shape, re.chunks, joined.map { case ((_, bid, rr), (_, ii)) =>
      CBlock(bid, rr, ii)
    })
  }

  /** Inverse of [[CArr.packed]] — narrow deinterleave. */
  def unpack(p: GArr): CArr = {
    require(p.shape.last == 2L && p.chunks.last == Seq(2),
      s"unpack expects a trailing interleave axis of 2: ${p.shape}")
    val s = p.blocks.sparkSession; import s.implicits._
    val out = p.blocks.map { b =>
      val n = b.data.length / 2
      val re = new Array[Double](n); val im = new Array[Double](n)
      var j = 0
      while (j < n) { re(j) = b.data(2 * j); im(j) = b.data(2 * j + 1); j += 1 }
      CBlock(b.bid.init, re, im)
    }
    CArr(p.shape.init, p.chunks.init, out)
  }

  def concatenate(axis: Int, arrs: Seq[CArr]): CArr =
    unpack(GArr.concatenate(axis, arrs.map(_.packed)))
}

/** The dask `array/fft.py` transform surface over [[CArr]]/[[GArr]] —
  * fft/ifft (+2/n variants), rfft/irfft, hfft/ihfft, all along any axis of
  * an ndim chunked array.
  *
  * Axis contract: like the reference (`fft.py:169-214` raises unless the
  * transform axes are single-chunk), the transform axis is made block-local
  * — here by an automatic one-shuffle rechunk instead of an error — and
  * the per-lane transform is then a NARROW map batched over every other
  * axis's chunking. For a 1-D array too large for one block, use the
  * genuinely distributed four-step [[fft1dC]] / [[fft1dArr]] instead
  * ([[SpectralFft.fft1d]] runs the same core on real input).
  */
object ComplexFft {
  import GArr.{startsOf, chunkDim, cStridesI}
  import SpectralFft.{fftLocal, fftLocalAny}

  /** FFT (or inverse FFT, numpy "backward" norm: ifft scales by 1/n) along
    * one axis. One rechunk shuffle if the axis is multi-chunk, then narrow.
    */
  def fftAxis(x: CArr, axis: Int, inverse: Boolean = false): CArr = {
    require(axis >= 0 && axis < x.ndim, s"fftAxis: bad axis $axis for ndim ${x.ndim}")
    val n = x.shape(axis)
    require(n <= Int.MaxValue / 2,
      s"fftAxis: axis length $n exceeds the block-local limit; use the distributed fft1dC")
    val single =
      if (x.chunks(axis).length == 1) x
      else x.rechunkTo(x.chunks.updated(axis, Seq(n.toInt)))
    val s = single.blocks.sparkSession
    import s.implicits._
    val nd = x.ndim
    val ax = axis
    val inv = inverse
    val srcStarts = single.chunks.map(startsOf)
    val out = single.blocks.map { b =>
      val dims = Array.tabulate(nd)(d => chunkDim(srcStarts(d), b.bid(d)))
      val alen = dims(ax)
      val str = cStridesI(dims)
      val astr = str(ax)
      val restDims = Array.tabulate(nd - 1)(j => dims(if (j < ax) j else j + 1))
      val restTotal = if (restDims.isEmpty) 1 else restDims.product
      val re = new Array[Double](b.re.length)
      val im = new Array[Double](b.im.length)
      System.arraycopy(b.re, 0, re, 0, re.length)
      System.arraycopy(b.im, 0, im, 0, im.length)
      val tre = new Array[Double](alen)
      val tim = new Array[Double](alen)
      val t = new Array[Int](nd)
      var r = 0
      while (r < restTotal) {
        var rem = r; var j = nd - 2
        while (j >= 0) {
          val d = if (j < ax) j else j + 1
          t(d) = rem % restDims(j); rem /= restDims(j)
          j -= 1
        }
        var base = 0; var d = 0
        while (d < nd) { if (d != ax) base += t(d) * str(d); d += 1 }
        var a = 0
        // ifft(x) = conj(fft(conj(x))) / n — one local pass per lane
        if (inv) {
          while (a < alen) { tre(a) = re(base + a * astr); tim(a) = -im(base + a * astr); a += 1 }
          fftLocalAny(tre, tim)
          a = 0
          while (a < alen) {
            re(base + a * astr) = tre(a) / alen
            im(base + a * astr) = -tim(a) / alen
            a += 1
          }
        } else {
          while (a < alen) { tre(a) = re(base + a * astr); tim(a) = im(base + a * astr); a += 1 }
          fftLocalAny(tre, tim)
          a = 0
          while (a < alen) {
            re(base + a * astr) = tre(a)
            im(base + a * astr) = tim(a)
            a += 1
          }
        }
        r += 1
      }
      CBlock(b.bid, re, im)
    }
    CArr(single.shape, single.chunks, out)
  }

  def ifftAxis(x: CArr, axis: Int): CArr = fftAxis(x, axis, inverse = true)

  /** numpy/dask `fft.fft` of a real ndim array along `axis`. */
  def fftArr(a: GArr, axis: Int = 0): CArr = fftAxis(CArr.fromReal(a), axis)

  /** numpy/dask `fft.fft2` / `ifft2` (axes default to the last two). */
  def fft2(x: CArr, axes: (Int, Int) = (-2, -1)): CArr =
    fftn(x, Seq(axes._1, axes._2))
  def ifft2(x: CArr, axes: (Int, Int) = (-2, -1)): CArr =
    ifftn(x, Seq(axes._1, axes._2))

  /** numpy/dask `fft.fftn` / `ifftn`: one [[fftAxis]] per requested axis
    * (an n-D DFT is separable), each narrow after its rechunk.
    */
  def fftn(x: CArr, axes0: Seq[Int] = Nil): CArr = {
    val axes = if (axes0.isEmpty) x.shape.indices else axes0.map(norm(_, x.ndim))
    axes.foldLeft(x)((acc, ax) => fftAxis(acc, ax))
  }
  def ifftn(x: CArr, axes0: Seq[Int] = Nil): CArr = {
    val axes = if (axes0.isEmpty) x.shape.indices else axes0.map(norm(_, x.ndim))
    axes.foldLeft(x)((acc, ax) => ifftAxis(acc, ax))
  }

  /** numpy/dask `fft.rfftn` / `rfft2` (`array/fft.py:246` fft_wrap
    * (np.fft.rfftn)): the REAL transform runs along the LAST axis given
    * (halving it to n/2+1 Hermitian bins), complex transforms along the
    * rest — the same composition numpy documents.
    */
  def rfftn(a: GArr, axes0: Seq[Int] = Nil): CArr = {
    val axes = if (axes0.isEmpty) a.shape.indices.toSeq
               else axes0.map(norm(_, a.ndim))
    axes.dropRight(1).foldLeft(rfftAxis(a, axes.last))((acc, ax) => fftAxis(acc, ax))
  }
  def rfft2(a: GArr, axes: (Int, Int) = (-2, -1)): CArr =
    rfftn(a, Seq(axes._1, axes._2))

  /** numpy/dask `fft.irfftn` / `irfft2`: inverse complex transforms along
    * the leading axes, then the Hermitian-mirror inverse real transform
    * along the last (`n0` optionally pins its output length, as irfft).
    */
  def irfftn(x: CArr, axes0: Seq[Int] = Nil, n0: Long = -1L): GArr = {
    val axes = if (axes0.isEmpty) x.shape.indices.toSeq
               else axes0.map(norm(_, x.ndim))
    irfftAxis(axes.dropRight(1).foldLeft(x)((acc, ax) => ifftAxis(acc, ax)),
      axes.last, n0)
  }
  def irfft2(x: CArr, axes: (Int, Int) = (-2, -1), n0: Long = -1L): GArr =
    irfftn(x, Seq(axes._1, axes._2), n0)

  private def norm(ax: Int, nd: Int): Int = if (ax < 0) ax + nd else ax

  /** numpy/dask `fft.rfft` along an axis: real input, bins 0..n/2 kept
    * (Hermitian redundancy dropped) — one fft + one packed slice.
    */
  def rfftAxis(a: GArr, axis: Int = 0): CArr = {
    val full = fftArr(a, axis)
    val keep = a.shape(axis) / 2 + 1
    val specs = full.shape.indices.map(d =>
      if (d == axis) (0L, keep, 1L) else (0L, full.shape(d), 1L))
    full.slice(specs)
  }

  /** numpy/dask `fft.irfft`: rebuild the full Hermitian spectrum
    * X[k] = conj(X[n-k]) for k > n/2 from the half spectrum (a flip + conj
    * + concat, all one-shuffle packed ops), inverse-transform, return the
    * real plane. `n` defaults to 2·(m−1) as in numpy.
    */
  def irfftAxis(x0: CArr, axis: Int = 0, n0: Long = -1L): GArr = {
    val m0 = x0.shape(axis)
    val n = if (n0 > 0) n0 else 2L * (m0 - 1)
    require(n >= 1, s"irfft output length $n must be >= 1")
    // numpy semantics for n > 2*(m-1): the half-spectrum is zero-padded to
    // n/2+1 bins BEFORE the Hermitian mirror is built (numpy irfft pads the
    // missing high-frequency bins with zeros). Without this the mirror slice
    // below would be clamped to the available bins and silently return a
    // wrong-length result.
    val bins = n / 2 + 1
    val x =
      if (m0 >= bins) x0
      else {
        val s = x0.blocks.sparkSession
        val padLen = bins - m0
        val ck = math.max(1, x0.chunks(axis).max)
        val axChunks = {
          val full = (padLen / ck).toInt
          val rem = (padLen % ck).toInt
          Seq.fill(full)(ck) ++ (if (rem > 0) Seq(rem) else Nil)
        }
        val padShape = x0.shape.indices.map(d => if (d == axis) padLen else x0.shape(d))
        val padChunks = x0.shape.indices.map(d => if (d == axis) axChunks else x0.chunks(d))
        val z = GArr.fromChunksGrid(s, padShape, padChunks)((_, dims) =>
          new Array[Double](dims.product))
        CArr.concatenate(axis, Seq(x0, CArr.fromReal(z)))
      }
    val m = x.shape(axis)
    val mUse = math.min(m, n / 2 + 1)
    val headSpecs = x.shape.indices.map(d =>
      if (d == axis) (0L, mUse, 1L) else (0L, x.shape(d), 1L))
    val head = x.slice(headSpecs)
    val tailLen = n - mUse
    val full =
      if (tailLen <= 0) head
      else {
        // mirror bins n-k for k in [mUse, n-1] ⇔ reversed bins [1, n-mUse]
        val mirrorSpecs = x.shape.indices.map(d =>
          if (d == axis) (1L, 1L + tailLen, 1L) else (0L, x.shape(d), 1L))
        val mirror = x.slice(mirrorSpecs).flipAxis(axis).conj
        CArr.concatenate(axis, Seq(head, mirror))
      }
    ifftAxis(full, axis).reArr
  }

  /** numpy/dask `fft.hfft` (spectrum of a signal with Hermitian symmetry —
    * real output): hfft(x, n) = n · irfft(conj(x), n) in numpy's backward
    * norm, so it rides [[irfftAxis]] directly.
    */
  def hfftAxis(x: CArr, axis: Int = 0, n0: Long = -1L): GArr = {
    val n = if (n0 > 0) n0 else 2L * (x.shape(axis) - 1)
    irfftAxis(x.conj, axis, n).scalarMap(_ * n)
  }

  /** numpy/dask `fft.ihfft`: inverse of hfft — conj(rfft(a))/n. */
  def ihfftAxis(a: GArr, axis: Int = 0): CArr = {
    val n = a.shape(axis)
    rfftAxis(a, axis).conj.scale(1.0 / n)
  }

  // --------------------------------------------------------------------
  // Distributed 1-D four-step (the scale path for a transform axis too
  // large for one block; the algorithm notes are in SpectralFft's header).
  // One core serves real input (SpectralFft.fft1d: phase 1 ships no
  // imaginary plane) and complex input (fft1dC, fft1dArr).
  // --------------------------------------------------------------------

  /** Phase 3's layout of a four-step transform of length `n1·n2`: row
    * strips `w1` rows high, each row an FFT of length `n2`.
    */
  private final case class FourStep(n1: Int, n2: Int, w1: Int)

  /** Offset and plane builders per destination key (a strip or a block)
    * of one task's scatter; `pieces` emits one [[CPiece]] per key.
    */
  private final class PieceBufs {
    import scala.collection.mutable.{ArrayBuilder, LinkedHashMap}
    private val bufs =
      LinkedHashMap[Int, (ArrayBuilder[Int], ArrayBuilder[Double], ArrayBuilder[Double])]()
    def at(key: Int): (ArrayBuilder[Int], ArrayBuilder[Double], ArrayBuilder[Double]) =
      bufs.getOrElseUpdate(key,
        (ArrayBuilder.make[Int], ArrayBuilder.make[Double], ArrayBuilder.make[Double]))
    def pieces: Iterator[CPiece] = bufs.iterator.map { case (key, (ob, rb, ib)) =>
      CPiece(key, ob.result(), rb.result(), ib.result())
    }
  }

  /** Phases 1–2 of the four-step FFT of a 1-D array (two all-to-all strip
    * exchanges, local FFTs sized to `targetElems`). `planes` gives a
    * block's index on the 1-D grid `chunks`, its real plane and its
    * imaginary plane; an empty imaginary plane (real input) is not
    * shipped. Returns the row-strip pieces phase 3 transforms
    * ([[rowStripBins]]).
    */
  private def fourStepRowPieces[B](blocks: Dataset[B], n: Long, chunks: Seq[Int],
                                   targetElems: Int)(
      planes: B => (Int, Array[Double], Array[Double])): (Dataset[CPiece], FourStep) = {
    require(n >= 1, "four-step FFT needs a nonempty array")
    val s = blocks.sparkSession
    import s.implicits._
    // largest divisor of n that is <= sqrt(n) (for pow2 this is the usual
    // half-split; for primes it is 1)
    val n2 = {
      var d = math.sqrt(n.toDouble).toLong
      while (d > 1 && n % d != 0) d -= 1
      math.max(1L, d).toInt
    }
    val n1 = (n / n2).toInt
    val w2 = math.max(1, math.min(n2, targetElems / math.max(n1, 1)))
    val w1 = math.max(1, math.min(n1, targetElems / math.max(n2, 1)))
    val starts = startsOf(chunks)

    // phase 1: 1-D blocks -> column strips
    val colPieces: Dataset[CPiece] = blocks.flatMap { blk =>
      val (bid, re, im) = planes(blk)
      val g0 = starts(bid)
      val bufs = new PieceBufs
      var i = 0
      while (i < re.length) {
        val gi = g0 + i
        val n1i = (gi / n2).toInt
        val n2i = (gi % n2).toInt
        val strip = n2i / w2
        val wCols = math.min(w2, n2 - strip * w2)
        val (ob, rb, ib) = bufs.at(strip)
        ob += n1i * wCols + (n2i - strip * w2)
        rb += re(i)
        if (im.nonEmpty) ib += im(i)
        i += 1
      }
      bufs.pieces
    }

    // phase 2: per-strip column FFTs + twiddle, re-strip by rows
    val rowPieces: Dataset[CPiece] = colPieces.groupByKey(_.strip).flatMapGroups {
      (strip, it) =>
        val wCols = math.min(w2, n2 - strip * w2)
        val re = new Array[Double](n1 * wCols)
        val im = new Array[Double](n1 * wCols)
        it.foreach { p =>
          var i = 0
          while (i < p.offs.length) {
            re(p.offs(i)) = p.re(i)
            if (p.im.nonEmpty) im(p.offs(i)) = p.im(i)
            i += 1
          }
        }
        val tre = new Array[Double](n1)
        val tim = new Array[Double](n1)
        var c = 0
        while (c < wCols) {
          var r = 0
          while (r < n1) { tre(r) = re(r * wCols + c); tim(r) = im(r * wCols + c); r += 1 }
          fftLocalAny(tre, tim)
          val g2 = strip * w2 + c
          var k1 = 0
          while (k1 < n1) {
            val ang = -2.0 * math.Pi * g2 * k1 / n
            val cr = math.cos(ang); val ci = math.sin(ang)
            val vr = tre(k1) * cr - tim(k1) * ci
            val vi = tre(k1) * ci + tim(k1) * cr
            re(k1 * wCols + c) = vr
            im(k1 * wCols + c) = vi
            k1 += 1
          }
          c += 1
        }
        val nStrips3 = (n1 + w1 - 1) / w1
        (0 until nStrips3).iterator.map { t =>
          val rows = math.min(w1, n1 - t * w1)
          val offs = new Array[Int](rows * wCols)
          val ore = new Array[Double](rows * wCols)
          val oim = new Array[Double](rows * wCols)
          var idx = 0
          var rr = 0
          while (rr < rows) {
            val k1 = t * w1 + rr
            var cc = 0
            while (cc < wCols) {
              offs(idx) = rr * n2 + (strip * w2 + cc)
              ore(idx) = re(k1 * wCols + cc)
              oim(idx) = im(k1 * wCols + cc)
              idx += 1; cc += 1
            }
            rr += 1
          }
          CPiece(t, offs, ore, oim)
        }
    }
    (rowPieces, FourStep(n1, n2, w1))
  }

  /** Phase 3 of the four-step FFT for row strip `t`: assembles the strip
    * from its pieces, runs the length-`n2` FFT of each row and passes each
    * final bin `(k, re, im)` to `emit`.
    */
  private def rowStripBins(p: FourStep, t: Int, pieces: Iterator[CPiece])(
      emit: (Long, Double, Double) => Unit): Unit = {
    val n2 = p.n2
    val rows = math.min(p.w1, p.n1 - t * p.w1)
    val re = new Array[Double](rows * n2)
    val im = new Array[Double](rows * n2)
    pieces.foreach { pc =>
      var i = 0
      while (i < pc.offs.length) { re(pc.offs(i)) = pc.re(i); im(pc.offs(i)) = pc.im(i); i += 1 }
    }
    val tre = new Array[Double](n2)
    val tim = new Array[Double](n2)
    var r = 0
    while (r < rows) {
      val k1 = t * p.w1 + r
      System.arraycopy(re, r * n2, tre, 0, n2)
      System.arraycopy(im, r * n2, tim, 0, n2)
      fftLocalAny(tre, tim)
      var k2 = 0
      while (k2 < n2) {
        emit(k1 + p.n1.toLong * k2, tre(k2), tim(k2))
        k2 += 1
      }
      r += 1
    }
  }

  /** The four-step FFT of a 1-D array (see [[fourStepRowPieces]] for
    * `planes`), bins as `(k, re, im)` rows.
    */
  private[operators] def fourStepBins[B](blocks: Dataset[B], n: Long, chunks: Seq[Int],
                                         targetElems: Int)(
      planes: B => (Int, Array[Double], Array[Double])): DataFrame = {
    val s = blocks.sparkSession
    import s.implicits._
    val (rowPieces, p) = fourStepRowPieces(blocks, n, chunks, targetElems)(planes)
    rowPieces.groupByKey(_.strip).flatMapGroups { (t, it) =>
      val out = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
      rowStripBins(p, t, it)((k, re, im) => out += ((k, re, im)))
      out
    }.toDF("k", "re", "im")
  }

  /** Distributed complex four-step FFT, bins as (k, re, im) rows. */
  def fft1dC(x: CArr, targetElems: Int = 65536): DataFrame = {
    require(x.ndim == 1, "four-step FFT takes a 1-D array")
    fourStepBins(x.blocks, x.shape.head, x.chunks.head, targetElems)(b =>
      (b.bid.head, b.re, b.im))
  }

  /** Distributed complex four-step FFT returning a CHUNKED spectrum [[CArr]]
    * (grid `evenChunks(n, outChunk)`): phase 3 scatters each row-strip's
    * bins straight to their destination blocks — one extra exchange over
    * [[fft1dC]], and the spectrum stays a first-class chunked array that
    * composes with hadamard/slice/inverse WITHOUT ever forming a
    * single-block (single-row) array. This is what keeps fftConvolve
    * distributed at any n: no block exceeds `outChunk` elements regardless
    * of total length.
    */
  def fft1dArr(x: CArr, targetElems: Int = 65536, outChunk: Int = 65536): CArr = {
    require(x.ndim == 1, "four-step FFT takes a 1-D array")
    val s = x.blocks.sparkSession
    import s.implicits._
    val n = x.shape.head
    val (rowPieces, p) = fourStepRowPieces(x.blocks, n, x.chunks.head, targetElems)(b =>
      (b.bid.head, b.re, b.im))
    val outChunks = GArr.evenChunks(n, outChunk)
    val oc = outChunk
    // phase 3, bins bucketed per destination block of the output grid
    val pieces = rowPieces.groupByKey(_.strip).flatMapGroups { (t, it) =>
      val bufs = new PieceBufs
      rowStripBins(p, t, it) { (k, re, im) =>
        val (ob, rb, ib) = bufs.at((k / oc).toInt)
        ob += (k % oc).toInt
        rb += re
        ib += im
      }
      bufs.pieces
    }
    val blocks = pieces.groupByKey(_.strip).mapGroups { (dst, it) =>
      val size = outChunks(dst)
      val re = new Array[Double](size)
      val im = new Array[Double](size)
      it.foreach { p =>
        var i = 0
        while (i < p.offs.length) { re(p.offs(i)) = p.re(i); im(p.offs(i)) = p.im(i); i += 1 }
      }
      CBlock(Seq(dst), re, im)
    }
    CArr(Seq(n), Seq(outChunks), blocks)
  }

  /** Distributed 1-D inverse FFT as a chunked array (backward norm):
    * ifft(x) = conj(fft(conj x))/n, narrow on both ends of [[fft1dArr]].
    */
  def ifft1dArr(x: CArr, targetElems: Int = 65536, outChunk: Int = 65536): CArr = {
    val n = x.shape.head
    fft1dArr(x.conj, targetElems, outChunk)
      .mapParts { (r, i) =>
        val or = new Array[Double](r.length); val oi = new Array[Double](i.length)
        var j = 0
        while (j < r.length) { or(j) = r(j) / n; oi(j) = -i(j) / n; j += 1 }
        (or, oi)
      }
  }

  /** Distributed 1-D inverse FFT (backward norm): conj → four-step fft →
    * conj/n, folded into the output projection so it adds no extra pass.
    */
  def ifft1d(x: CArr, targetElems: Int = 65536): DataFrame = {
    val n = x.shape.head
    import org.apache.spark.sql.functions.col
    fft1dC(x.conj, targetElems)
      .select(col("k"), (col("re") / n).as("re"), (-col("im") / n).as("im"))
  }

  /** FFT convolution along one axis — scipy/dask `fftconvolve` 'full'
    * mode: zero-pad both arrays to n = na + nb − 1, transform, multiply
    * spectra cell-wise ([[CArr.hadamard]], one co-gridded zip — both
    * transforms land on the SAME grid by construction), inverse-transform,
    * take the real plane. For integer inputs the result rounds exactly,
    * which is what the oracle pins. O((n log n)/p) per lane vs the O(na·nb)
    * direct form — the standard large-kernel path.
    */
  /** Overlap-add convolution — scipy `oaconvolve`, the small-kernel scale
    * path: the kernel (driver-small, like any broadcast dimension) ships
    * in the task closure; each signal block convolves LOCALLY (pow2 FFT of
    * blockLen+nb−1) and emits its length-(blockLen+nb−1) segment, which
    * overlaps the next block's head by nb−1; segments are split on the
    * output grid and SUMMED in one shuffle. No global transform, no
    * all-to-all: O(n log L) work and one exchange of n + grid·nb values,
    * regardless of total signal length — for nb ≪ n this beats the
    * spectral path by the two four-step all-to-alls it never pays.
    */
  def oaConvolve(a: GArr, kernel: Array[Double]): GArr = {
    require(a.ndim == 1, "oaConvolve is the 1-D form")
    val nb = kernel.length
    require(nb >= 1, "empty kernel")
    val na = a.shape.head
    val nOut = na + nb - 1
    val s = a.blocks.sparkSession
    import s.implicits._
    val starts = startsOf(a.chunks.head)
    val outChunks = GArr.evenChunks(nOut, math.max(a.chunks.head.max, nb))
    val outStarts = startsOf(outChunks)
    val oc = outChunks.toArray
    val kern = kernel
    val pieces = a.blocks.flatMap { blk =>
      val la = blk.data.length
      val segLen = la + nb - 1
      // local convolution: pow2 FFT when it pays, direct for tiny kernels
      val seg =
        if (nb <= 32 || segLen <= 64) {
          val o = new Array[Double](segLen)
          var i = 0
          while (i < la) {
            val v = blk.data(i)
            if (v != 0.0) {
              var j = 0
              while (j < nb) { o(i + j) += v * kern(j); j += 1 }
            }
            i += 1
          }
          o
        } else {
          var m = 1
          while (m < segLen) m <<= 1
          val xr = new Array[Double](m); val xi = new Array[Double](m)
          val yr = new Array[Double](m); val yi = new Array[Double](m)
          System.arraycopy(blk.data, 0, xr, 0, la)
          System.arraycopy(kern, 0, yr, 0, nb)
          fftLocalAny(xr, xi); fftLocalAny(yr, yi)
          var k = 0
          while (k < m) {
            val r = xr(k) * yr(k) - xi(k) * yi(k)
            val i2 = xr(k) * yi(k) + xi(k) * yr(k)
            xr(k) = r; xi(k) = i2
            k += 1
          }
          // inverse: conj -> fft -> conj/m, reusing the forward kernel
          k = 0; while (k < m) { xi(k) = -xi(k); k += 1 }
          fftLocal(xr, xi)
          val o = new Array[Double](segLen)
          k = 0; while (k < segLen) { o(k) = xr(k) / m; k += 1 }
          o
        }
      // split the segment on the output grid; overlaps SUM at assembly
      val g0 = starts(blk.bid.head)
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Array[Double])]()
      var d = java.util.Arrays.binarySearch(outStarts, g0) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      var pos = 0L
      while (pos < segLen && d < oc.length) {
        val dStart = outStarts(d)
        val dLen = oc(d)
        val lo = math.max(g0 + pos, dStart)
        val hi = math.min(g0 + segLen, dStart + dLen)
        if (hi > lo) {
          val sub = new Array[Double]((hi - lo).toInt)
          System.arraycopy(seg, (lo - g0).toInt, sub, 0, sub.length)
          out += (((d, (lo - dStart).toInt, sub)))
          pos = hi - g0
        }
        d += 1
      }
      out
    }
    val blocks = pieces.groupByKey(_._1).mapGroups { (d, it) =>
      val acc = new Array[Double](oc(d))
      it.foreach { case (_, off, sub) =>
        var i = 0
        while (i < sub.length) { acc(off + i) += sub(i); i += 1 }
      }
      ABlock(Seq(d), acc)
    }
    GArr(Seq(nOut), Seq(outChunks), blocks)
  }

  def fftConvolve(a: GArr, b: GArr, axis: Int = 0): GArr = {
    require(a.ndim == b.ndim, "fftConvolve: rank mismatch")
    require(a.shape.indices.filter(_ != axis).forall(d => a.shape(d) == b.shape(d)),
      s"fftConvolve: non-axis shapes must match: ${a.shape} vs ${b.shape}")
    val na = a.shape(axis); val nb = b.shape(axis)
    val nOut = na + nb - 1
    if (a.ndim == 1 && nb <= (1 << 20) && nb * 4 <= na) {
      // small-kernel fast path: overlap-add with the kernel as a broadcast
      // side (the merge.py is_broadcast_join analog for signal processing)
      val kernel = b.toIndexedDF.collect().sortBy(_.getLong(0)).map(_.getDouble(1))
      oaConvolve(a, kernel)
    } else if (a.ndim == 1) {
      // the scale path: distributed four-step on BOTH sides. Convolution
      // admits any fft length >= nOut, so pad to the next power of two —
      // the four-step then splits into two perfectly balanced pow2 phases
      // (scipy's fftconvolve does the same next_fast_len padding), and no
      // single task ever holds the whole axis.
      var nFFT = 1L
      while (nFFT < nOut) nFFT <<= 1
      val pa = a.padAxis(0, 0, (nFFT - na).toInt)
      val pb = b.padAxis(0, 0, (nFFT - nb).toInt)
      // strip/chunk sizing: ~16 strips per side floor, 1M-element ceiling —
      // small transforms stay parallel, huge ones amortize the two
      // all-to-alls over meaningful local FFT work (8–16 MB per task)
      val te = math.max(65536L, math.min(1L << 20, nFFT / 16)).toInt
      val fa = fft1dArr(CArr.fromReal(pa), te, te)
      val fb = fft1dArr(CArr.fromReal(pb), te, te)
      val full = ifft1dArr(fa.hadamard(fb), te, te)
      full.slice(Seq((0L, nOut, 1L))).reArr
    } else {
      // ndim batch form: axis made block-local (dask's own fft contract),
      // every other axis keeps its chunking and its parallelism
      val pa = a.padAxis(axis, 0, (nOut - na).toInt)
      val pb = b.padAxis(axis, 0, (nOut - nb).toInt)
      val target = pa.chunks.updated(axis, Seq(nOut.toInt))
      val fa = fftAxis(CArr.fromReal(pa.rechunkTo(target)), axis)
      val fb = fftAxis(CArr.fromReal(pb.rechunkTo(target)), axis)
      ifftAxis(fa.hadamard(fb), axis).reArr
    }
  }
}
