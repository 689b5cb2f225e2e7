package graft.operators

import org.apache.spark.sql.DataFrame

/** Distributed 1-D FFT over a chunked [[GArr]] — the dask `array/fft.py`
  * surface re-expressed as the four-step (transpose) Cooley–Tukey
  * algorithm, the standard distributed-memory FFT:
  *
  *   view x (N = N1·N2, both powers of two) as A[n1][n2] with
  *   n = n1·N2 + n2; then  X[k1 + N1·k2] =
  *   FFT_n2( e^{-2πi·n2·k1/N} · FFT_n1(A[·][n2]) )[k2]
  *
  * Phase 1 regroups the 1-D blocks into column strips (shuffle #1), each
  * task FFTs its columns locally and applies the twiddle factors; phase 2
  * transposes to row strips (shuffle #2) and FFTs rows locally. Strip
  * widths are sized to ~`targetElems` doubles per task, so both local
  * FFTs stay cache-resident regardless of N — exactly two all-to-all
  * exchanges of packed arrays at any scale (the communication lower bound
  * for a transpose FFT). The phases are written once, in `ComplexFft`
  * (`fourStepRowPieces`, `rowStripBins`): [[fft1d]] runs them with no
  * imaginary plane in phase 1, `ComplexFft.fft1dC`/`fft1dArr` with one.
  *
  * Dask wraps numpy's FFT per-chunk and can only batch over the OTHER
  * axes (`array/fft.py:1-316` requires the FFT axis be single-chunk);
  * this implementation genuinely distributes the transform axis.
  */
object SpectralFft {

  /** In-place iterative radix-2 complex FFT (sign convention e^{-2πikn/N}).
    * Twiddles come from ONE precomputed quarter-table of n/2 direct-trig
    * values (every level reads it at stride n/len), so accuracy matches
    * per-butterfly direct trig — |error| ~ε·log₂n relative — at 1/log₂n
    * of the trig cost; the table is 8·n bytes, allocated per call and
    * bounded by the strip size the four-step feeds in (never the whole
    * distributed axis).
    */
  def fftLocal(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require((n & (n - 1)) == 0, s"fftLocal length $n not a power of two")
    if (n <= 1) return
    var j = 0
    var i = 1
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    val half0 = n >> 1
    val cosT = new Array[Double](half0)
    val sinT = new Array[Double](half0)
    val ang0 = -2.0 * math.Pi / n
    var k0 = 0
    while (k0 < half0) {
      cosT(k0) = math.cos(ang0 * k0); sinT(k0) = math.sin(ang0 * k0)
      k0 += 1
    }
    var len = 2
    while (len <= n) {
      val half = len >> 1
      val step = n / len
      var base = 0
      while (base < n) {
        var k = 0
        while (k < half) {
          val cr = cosT(k * step)
          val ci = sinT(k * step)
          val ur = re(base + k); val ui = im(base + k)
          val vr0 = re(base + k + half); val vi0 = im(base + k + half)
          val vr = vr0 * cr - vi0 * ci
          val vi = vr0 * ci + vi0 * cr
          re(base + k) = ur + vr; im(base + k) = ui + vi
          re(base + k + half) = ur - vr; im(base + k + half) = ui - vi
          k += 1
        }
        base += len
      }
      len <<= 1
    }
  }

  /** Arbitrary-length local FFT: radix-2 for powers of two, Bluestein's
    * chirp-z otherwise (three pow2 FFTs of length m = nextPow2(2n-1); the
    * k² chirp angle is reduced mod 2n in exact Long arithmetic so large k
    * loses no precision). numpy supports any n — this closes the same
    * surface locally, and [[fft1d]] composes it per strip.
    */
  def fftLocalAny(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    if (n <= 1) return
    if ((n & (n - 1)) == 0) { fftLocal(re, im); return }
    val m = Integer.highestOneBit(2 * n - 1) << 1
    val cosC = new Array[Double](n); val sinC = new Array[Double](n)
    var k = 0
    while (k < n) {
      val k2 = (k.toLong * k % (2L * n)).toDouble
      val ang = -math.Pi * k2 / n
      cosC(k) = math.cos(ang); sinC(k) = math.sin(ang)
      k += 1
    }
    val ar = new Array[Double](m); val ai = new Array[Double](m)
    k = 0
    while (k < n) {
      ar(k) = re(k) * cosC(k) - im(k) * sinC(k)
      ai(k) = re(k) * sinC(k) + im(k) * cosC(k)
      k += 1
    }
    val br = new Array[Double](m); val bi = new Array[Double](m)
    br(0) = cosC(0); bi(0) = -sinC(0)
    k = 1
    while (k < n) {
      br(k) = cosC(k); bi(k) = -sinC(k)
      br(m - k) = br(k); bi(m - k) = bi(k)
      k += 1
    }
    fftLocal(ar, ai); fftLocal(br, bi)
    k = 0
    while (k < m) {
      val r = ar(k) * br(k) - ai(k) * bi(k)
      val i2 = ar(k) * bi(k) + ai(k) * br(k)
      ar(k) = r; ai(k) = i2
      k += 1
    }
    k = 0; while (k < m) { ai(k) = -ai(k); k += 1 }
    fftLocal(ar, ai)
    k = 0; while (k < m) { ar(k) = ar(k) / m; ai(k) = -ai(k) / m; k += 1 }
    k = 0
    while (k < n) {
      re(k) = ar(k) * cosC(k) - ai(k) * sinC(k)
      im(k) = ar(k) * sinC(k) + ai(k) * cosC(k)
      k += 1
    }
  }

  /** Distributed FFT of a real-valued 1-D [[GArr]], any length N (the
    * four-step decimation X[k1 + k2·n1] works for ANY factorization
    * N = n1·n2; strips use the arbitrary-length [[fftLocalAny]]). A prime
    * N degenerates to n2 = 1 — one strip runs a local Bluestein, exactly
    * what numpy does on a single machine. Returns (k, re, im) rows for
    * all N bins. The complex four-step core ([[ComplexFft.fft1dC]]) with
    * phase 1 shipping no imaginary plane.
    */
  def fft1d(a: GArr, targetElems: Int = 65536): DataFrame = {
    require(a.ndim == 1, "fft1d takes a 1-D array")
    ComplexFft.fourStepBins(a.blocks, a.shape.head, a.chunks.head, targetElems)(b =>
      (b.bid.head, b.data, Array.emptyDoubleArray))
  }

  /** numpy/dask `fft.rfft` for real input: the spectrum of a real signal
    * is Hermitian, so only bins 0..n/2 carry information — one filter on
    * the full transform.
    */
  def rfft1d(a: GArr, targetElems: Int = 65536): DataFrame = {
    val half = a.shape.head / 2
    fft1d(a, targetElems).where(org.apache.spark.sql.functions.col("k") <= half)
  }

  /** numpy/dask `fft.fftfreq(n, d)` — grid-parallel creation, zero driver
    * data: freq[k] = k/(n·d) for k < ⌈n/2⌉, else (k-n)/(n·d).
    */
  def fftfreq(s: org.apache.spark.sql.SparkSession, n: Long, d: Double = 1.0,
              chunk: Int = 65536): GArr = {
    val split = (n + 1) / 2
    GArr.fromFunction(s, Seq(n), Seq(chunk))(g =>
      (if (g(0) < split) g(0) else g(0) - n) / (n * d))
  }

  /** numpy/dask `fft.rfftfreq(n, d)`: k/(n·d) for k = 0..n/2. */
  def rfftfreq(s: org.apache.spark.sql.SparkSession, n: Long, d: Double = 1.0,
               chunk: Int = 65536): GArr =
    GArr.fromFunction(s, Seq(n / 2 + 1), Seq(chunk))(g => g(0) / (n * d))

  /** numpy/dask `fft.fftshift` / `ifftshift` along an axis — pure roll
    * compositions (two strided slices + zero-shuffle concat).
    */
  def fftshift(a: GArr, axis: Int = 0): GArr =
    a.rollAxis(axis, a.shape(axis) / 2)

  def ifftshift(a: GArr, axis: Int = 0): GArr =
    a.rollAxis(axis, -(a.shape(axis) / 2))
}
