package graft.operators

import graft.SparkTestBase

/** Fancy / boolean-mask indexing and setitem for the chunked-ndarray tier
  * (SURVEY §2.11 slicing; reference `dask/array/slicing.py:582` take,
  * `:992` int-dask-array index, `:1061` bool-dask-array index, `:1464`
  * setitem_array, `dask/array/routines.py:2017` compress) — every op
  * checked against a driver-local dense reference.
  */
class FancyIndexSpec extends SparkTestBase {

  private def indexed(a: GArr): Map[Long, Double] =
    a.toIndexedDF.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def vec(a: GArr): Array[Double] = {
    val m = indexed(a)
    Array.tabulate(a.numElements.toInt)(i => m(i.toLong))
  }

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def persistedSince(before: Set[Int]): Set[Int] = persisted() -- before

  private val f1: Array[Long] => Double = g => 3.0 + 2.0 * g(0)
  private val f2: Array[Long] => Double = g => 1.0 + 7.0 * g(0) + 13.0 * g(1)

  test("take 1-D: out-of-order + duplicate indices, uneven chunks") {
    val a = GArr.fromFunction(spark, Seq(11L), Seq(3))(f1)
    val idx = Seq(7L, 0L, 7L, 10L, 2L, 2L)
    val t = a.take(idx)
    assert(t.shape == Seq(6L))
    assert(vec(t).toSeq == idx.map(i => f1(Array(i))))
  }

  test("take 2-D along both axes matches dense gather") {
    val a = GArr.fromFunction(spark, Seq(7L, 5L), Seq(3, 2))(f2)
    val t0 = a.take(Seq(6L, 1L, 3L), axis = 0)
    assert(t0.shape == Seq(3L, 5L))
    val g0 = indexed(t0)
    val rows = Seq(6L, 1L, 3L)
    for (i <- 0 until 3; j <- 0 until 5)
      assert(g0((i * 5 + j).toLong) == f2(Array(rows(i), j.toLong)), s"($i,$j)")
    val t1 = a.take(Seq(4L, 4L, 0L, 2L), axis = 1)
    assert(t1.shape == Seq(7L, 4L))
    val g1 = indexed(t1)
    val cols = Seq(4L, 4L, 0L, 2L)
    for (i <- 0 until 7; j <- 0 until 4)
      assert(g1((i * 4 + j).toLong) == f2(Array(i.toLong, cols(j))), s"($i,$j)")
  }

  test("compress along axis 1 == dense boolean column-select") {
    val a = GArr.fromFunction(spark, Seq(4L, 6L), Seq(2, 2))(f2)
    val mask = Seq(true, false, true, true, false, true)
    val c = a.compress(mask, axis = 1)
    assert(c.shape == Seq(4L, 4L))
    val keep = mask.zipWithIndex.collect { case (true, j) => j.toLong }
    val g = indexed(c)
    for (i <- 0 until 4; j <- keep.indices)
      assert(g((i * 4 + j).toLong) == f2(Array(i.toLong, keep(j))))
  }

  test("booleanMask 1-D: counts-prefix path preserves order") {
    val a = GArr.fromFunction(spark, Seq(20L), Seq(3))(g => (g(0) % 7).toDouble)
    val m = a.mapBlocks((_, d) => d.map(v => if (v >= 4.0) 1.0 else 0.0))
    val sel = a.booleanMask(m, targetChunk = 4)
    val ref = (0L until 20L).map(i => (i % 7).toDouble).filter(_ >= 4.0)
    assert(sel.shape == Seq(ref.length.toLong))
    assert(vec(sel).toSeq == ref)
  }

  test("booleanMask 2-D: global C-order flatten via distributed sort") {
    val a = GArr.fromFunction(spark, Seq(6L, 5L), Seq(2, 2))(f2)
    val m = a.mapBlocks((_, d) => d.map(v => if (v % 3.0 == 0.0) 1.0 else 0.0))
    val sel = a.booleanMask(m, targetChunk = 4)
    val ref = (for (i <- 0L until 6L; j <- 0L until 5L) yield f2(Array(i, j)))
      .filter(_ % 3.0 == 0.0)
    assert(sel.shape == Seq(ref.length.toLong))
    assert(vec(sel).toSeq == ref)
  }

  test("compressArr: distributed 1-D mask along axis 1 of a 2-D array") {
    val a = GArr.fromFunction(spark, Seq(6L, 9L), Seq(2, 2))(f2)
    // mask on a DIFFERENT chunking than the axis (forces the align regrid)
    val m = GArr.fromFunction(spark, Seq(9L), Seq(4))(g => if (g(0) % 3 != 1) 1.0 else 0.0)
    val c = a.compressArr(m, axis = 1)
    val keep = (0L until 9L).filter(_ % 3 != 1)
    assert(c.shape == Seq(6L, keep.length.toLong))
    val g = indexed(c)
    for (i <- 0 until 6; j <- keep.indices)
      assert(g((i * keep.length + j).toLong) == f2(Array(i.toLong, keep(j))), s"($i,$j)")
  }

  test("compressArr: axis 0, all-kept and none-kept edges") {
    val a = GArr.fromFunction(spark, Seq(7L, 3L), Seq(3, 3))(f2)
    val all = GArr.fromFunction(spark, Seq(7L), Seq(3))(_ => 1.0)
    val c1 = a.compressArr(all, axis = 0)
    assert(c1.shape == Seq(7L, 3L) && indexed(c1) == indexed(a))
    val none = GArr.fromFunction(spark, Seq(7L), Seq(3))(_ => 0.0)
    val c0 = a.compressArr(none, axis = 0)
    assert(c0.shape == Seq(0L, 3L) && c0.toIndexedDF.count() == 0)
  }

  test("takeArr: distributed integer-array index, idx chunks preserved") {
    val a = GArr.fromFunction(spark, Seq(50L), Seq(7))(f1)
    val idx = GArr.fromFunction(spark, Seq(12L), Seq(5))(g => ((g(0) * 17 + 3) % 50).toDouble)
    val t = a.takeArr(idx)
    assert(t.shape == Seq(12L) && t.chunks == idx.chunks)
    val ref = (0L until 12L).map(j => f1(Array((j * 17 + 3) % 50)))
    assert(vec(t).toSeq == ref)
  }

  test("maskedFill + nancumsum/nancumprod compositions") {
    val a = GArr.fromFunction(spark, Seq(12L), Seq(5))(g => g(0).toDouble)
    val m = a.mapBlocks((_, d) => d.map(v => if (v % 4 == 1) 1.0 else 0.0))
    val filled = a.maskedFill(m, Double.NaN)
    val s = filled.nancumsumAxis(0)
    // values 1,5,9 are NaN-filled; nancumsum skips them
    val ref = (0 until 12).scanLeft(0.0)((acc, i) =>
      acc + (if (i % 4 == 1) 0.0 else i)).tail
    assert(vec(s).toSeq == ref)
    val p = filled.scalarMap(v => if (v.isNaN) v else 1.0 + v / 100.0).nancumprodAxis(0)
    assert(!vec(p).exists(_.isNaN))
  }

  test("updatedSlice scalar: strided 2-D region, zero shuffle (narrow)") {
    val a = GArr.fromFunction(spark, Seq(7L, 6L), Seq(3, 2))(f2)
    val u = a.updatedSlice(Seq((1L, 6L, 2L), (0L, 6L, 3L)), -1.0)
    val g = indexed(u)
    for (i <- 0L until 7L; j <- 0L until 6L) {
      val inSlice = i >= 1 && i < 6 && (i - 1) % 2 == 0 && j < 6 && j % 3 == 0
      val want = if (inSlice) -1.0 else f2(Array(i, j))
      assert(g(i * 6 + j) == want, s"($i,$j)")
    }
  }

  test("updatedSlice array: stepped 1-D assignment from a chunked value") {
    val a = GArr.fromFunction(spark, Seq(23L), Seq(4))(f1)
    val v = GArr.fromFunction(spark, Seq(6L), Seq(2))(g => 1000.0 + g(0))
    val u = a.updatedSlice(Seq((2L, 20L, 3L)), v)
    val g = vec(u)
    for (i <- 0 until 23) {
      val j = (i - 2) / 3
      val inSlice = i >= 2 && i < 20 && (i - 2) % 3 == 0
      val want = if (inSlice) 1000.0 + j else f1(Array(i.toLong))
      assert(g(i) == want, s"i=$i")
    }
  }

  test("take: negative indices wrap like np.take") {
    val a = GArr.fromFunction(spark, Seq(11L), Seq(3))(f1)
    val t = a.take(Seq(-1L, 0L, -11L, 5L))
    assert(vec(t).toSeq == Seq(10L, 0L, 0L, 5L).map(i => f1(Array(i))))
  }

  test("takeArr along axis 1 of a 2-D array: distributed index, dense parity") {
    val a = GArr.fromFunction(spark, Seq(6L, 13L), Seq(2, 4))(f2)
    // duplicates, out of order, and a negative (wrapping) index
    val cols = Seq(12L, 0L, 7L, 7L, -1L, 3L, 9L)
    val idx = GArr.fromFunction(spark, Seq(cols.length.toLong), Seq(3))(g =>
      cols(g(0).toInt).toDouble)
    val t = a.takeArr(idx, axis = 1)
    assert(t.shape == Seq(6L, cols.length.toLong))
    assert(t.chunks(1) == idx.chunks(0))
    val g = indexed(t)
    val wrapped = cols.map(c => if (c < 0) c + 13 else c)
    for (i <- 0 until 6; j <- wrapped.indices)
      assert(g((i * cols.length + j).toLong) == f2(Array(i.toLong, wrapped(j))), s"($i,$j)")
  }

  test("takeArr along axis 0 of a 2-D array") {
    val a = GArr.fromFunction(spark, Seq(9L, 4L), Seq(4, 2))(f2)
    val rows = Seq(8L, 8L, 1L, 5L, 0L)
    val idx = GArr.fromFunction(spark, Seq(5L), Seq(2))(g => rows(g(0).toInt).toDouble)
    val t = a.takeArr(idx, axis = 0)
    assert(t.shape == Seq(5L, 4L) && t.chunks(0) == idx.chunks(0))
    val g = indexed(t)
    for (i <- rows.indices; j <- 0 until 4)
      assert(g((i * 4 + j).toLong) == f2(Array(rows(i), j.toLong)), s"($i,$j)")
  }

  test("takeArr: salted gather (salt=3) matches unsalted result") {
    val a = GArr.fromFunction(spark, Seq(40L), Seq(11))(f1)
    // degenerate skew: every request hits source block 0
    val idx = GArr.fromFunction(spark, Seq(17L), Seq(4))(g => (g(0) % 5).toDouble)
    val plain = a.takeArr(idx)
    val salted = a.takeArr(idx, axis = 0, salt = 3)
    assert(salted.shape == plain.shape && salted.chunks == plain.chunks)
    assert(vec(salted).toSeq == vec(plain).toSeq)
  }

  test("updatedFancy: duplicate indices resolve last-wins, value regrid-aligned") {
    val a = GArr.fromFunction(spark, Seq(30L), Seq(7))(f1)
    // positions 4 and 28 written twice — the LATER index-order value wins
    val positions = Seq(4L, 11L, 28L, 4L, -2L, 19L)
    val idx = GArr.fromFunction(spark, Seq(6L), Seq(2))(g => positions(g(0).toInt).toDouble)
    // value chunking differs from idx chunking on purpose (forces align)
    val v = GArr.fromFunction(spark, Seq(6L), Seq(4))(g => 500.0 + g(0))
    val u = a.updatedFancy(idx, v)
    assert(u.shape == a.shape && u.chunks == a.chunks)
    val dense = Array.tabulate(30)(i => f1(Array(i.toLong)))
    positions.zipWithIndex.foreach { case (p, j) =>
      dense(if (p < 0) (p + 30).toInt else p.toInt) = 500.0 + j
    }
    assert(vec(u).toSeq == dense.toSeq)
  }

  test("maskedAssign: array values consumed in C order of selections") {
    val a = GArr.fromFunction(spark, Seq(20L), Seq(3))(f1)
    // mask true at global positions ≡ 0 (mod 3), same chunks as the base
    val mask = GArr.fromFunction(spark, Seq(20L), Seq(3))(g => if (g(0) % 3 == 0) 1.0 else 0.0)
    val k = (0 until 20).count(_ % 3 == 0)
    val values = GArr.fromFunction(spark, Seq(k.toLong), Seq(2))(g => 100.0 * (1 + g(0)))
    val u = a.maskedAssign(mask, values)
    assert(u.shape == a.shape && u.chunks == a.chunks)
    val dense = Array.tabulate(20)(i => f1(Array(i.toLong)))
    var r = 0
    for (i <- 0 until 20 if i % 3 == 0) { dense(i) = 100.0 * (1 + r); r += 1 }
    assert(vec(u).toSeq == dense.toSeq)
  }

  test("maskedAssign: wrong value length is rejected loudly") {
    val a = GArr.fromFunction(spark, Seq(10L), Seq(4))(f1)
    val mask = GArr.fromFunction(spark, Seq(10L), Seq(4))(g => if (g(0) < 4) 1.0 else 0.0)
    val bad = GArr.fromFunction(spark, Seq(3L), Seq(3))(g => g(0).toDouble)
    val before = persisted()
    intercept[IllegalArgumentException] { a.maskedAssign(mask, bad) }
    assert(persistedSince(before).isEmpty, s"a rejected call left persisted: ${persistedSince(before)}")
  }

  test("updatedFancy 2-D axis 0: duplicate rows last-wins, cross-chunk, negative index") {
    val a = GArr.fromFunction(spark, Seq(9L, 5L), Seq(4, 2))(f2)
    // row 7 written twice (orders 0 and 3 — order 3 wins), -1 wraps to row 8
    val rows = Seq(7L, 2L, -1L, 7L)
    val idx = GArr.fromFunction(spark, Seq(4L), Seq(3))(g => rows(g(0).toInt).toDouble)
    // value chunking deliberately off both grids (forces the rechunk align)
    val v = GArr.fromFunction(spark, Seq(4L, 5L), Seq(2, 3))(g => 1000.0 + 10.0 * g(0) + g(1))
    val u = a.updatedFancy(idx, v, axis = 0)
    assert(u.shape == a.shape && u.chunks == a.chunks)
    val dense = Array.tabulate(9, 5)((i, j) => f2(Array(i.toLong, j.toLong)))
    rows.zipWithIndex.foreach { case (r0, ord) =>
      val r = if (r0 < 0) (r0 + 9).toInt else r0.toInt
      for (j <- 0 until 5) dense(r)(j) = 1000.0 + 10.0 * ord + j
    }
    val g = indexed(u)
    for (i <- 0 until 9; j <- 0 until 5)
      assert(g((i * 5 + j).toLong) == dense(i)(j), s"($i,$j)")
  }

  test("updatedFancy 2-D axis 1: column assignment across chunk boundaries") {
    val a = GArr.fromFunction(spark, Seq(6L, 11L), Seq(3, 4))(f2)
    val cols = Seq(10L, 0L, 4L, 10L, 6L) // col 10 twice — order 3 wins
    val idx = GArr.fromFunction(spark, Seq(5L), Seq(2))(g => cols(g(0).toInt).toDouble)
    val v = GArr.fromFunction(spark, Seq(6L, 5L), Seq(2, 2))(g => -(100.0 + 10.0 * g(0) + g(1)))
    val u = a.updatedFancy(idx, v, axis = 1)
    assert(u.shape == a.shape && u.chunks == a.chunks)
    val dense = Array.tabulate(6, 11)((i, j) => f2(Array(i.toLong, j.toLong)))
    cols.zipWithIndex.foreach { case (c, ord) =>
      for (i <- 0 until 6) dense(i)(c.toInt) = -(100.0 + 10.0 * i + ord)
    }
    val g = indexed(u)
    for (i <- 0 until 6; j <- 0 until 11)
      assert(g((i * 11 + j).toLong) == dense(i)(j), s"($i,$j)")
  }

  test("updatedFancy 3-D middle axis matches dense reference") {
    val f3: Array[Long] => Double = g => 1.0 + g(0) * 100 + g(1) * 10 + g(2)
    val a = GArr.fromFunction(spark, Seq(3L, 7L, 4L), Seq(2, 3, 2))(f3)
    val lanes = Seq(6L, 1L, 6L) // lane 6 twice — last write (order 2) wins
    val idx = GArr.fromFunction(spark, Seq(3L), Seq(2))(g => lanes(g(0).toInt).toDouble)
    val v = GArr.fromFunction(spark, Seq(3L, 3L, 4L), Seq(2, 2, 3))(g =>
      5000.0 + g(0) * 100 + g(1) * 10 + g(2))
    val u = a.updatedFancy(idx, v, axis = 1)
    assert(u.shape == a.shape && u.chunks == a.chunks)
    val dense = Array.tabulate(3, 7, 4)((i, j, k) => f3(Array(i.toLong, j.toLong, k.toLong)))
    lanes.zipWithIndex.foreach { case (l, ord) =>
      for (i <- 0 until 3; k <- 0 until 4)
        dense(i)(l.toInt)(k) = 5000.0 + i * 100 + ord * 10 + k
    }
    val g = indexed(u)
    for (i <- 0 until 3; j <- 0 until 7; k <- 0 until 4)
      assert(g((i * 28 + j * 4 + k).toLong) == dense(i)(j)(k), s"($i,$j,$k)")
  }

  test("maskedAssign 2-D: values consumed in GLOBAL C order across blocks") {
    val a = GArr.fromFunction(spark, Seq(6L, 7L), Seq(2, 3))(f2)
    // mask selects (i + j) % 3 == 0 — crosses every chunk boundary, and
    // block-local order differs from global C order for this grid
    val mask = GArr.fromFunction(spark, Seq(6L, 7L), Seq(2, 3))(g =>
      if ((g(0) + g(1)) % 3 == 0) 1.0 else 0.0)
    val k = (for (i <- 0 until 6; j <- 0 until 7) yield (i, j)).count { case (i, j) => (i + j) % 3 == 0 }
    val values = GArr.fromFunction(spark, Seq(k.toLong), Seq(3))(g => 900.0 + g(0))
    val u = a.maskedAssign(mask, values)
    assert(u.shape == a.shape && u.chunks == a.chunks)
    val dense = Array.tabulate(6, 7)((i, j) => f2(Array(i.toLong, j.toLong)))
    var r = 0
    for (i <- 0 until 6; j <- 0 until 7 if (i + j) % 3 == 0) { dense(i)(j) = 900.0 + r; r += 1 }
    val g = indexed(u)
    for (i <- 0 until 6; j <- 0 until 7)
      assert(g((i * 7 + j).toLong) == dense(i)(j), s"($i,$j)")
  }

  test("booleanMask/maskedAssign 2-D chunked only along axis 0: counts-prefix path") {
    // grid (4,1): block payloads are contiguous C-order ranges, so the
    // no-sort counts-prefix path must produce the same global order the
    // sort path would
    val a = GArr.fromFunction(spark, Seq(8L, 5L), Seq(2, 5))(f2)
    assert(a.grid == Seq(4, 1))
    val m = a.mapBlocks((_, d) => d.map(v => if (v % 3.0 == 0.0) 1.0 else 0.0))
    val sel = a.booleanMask(m, targetChunk = 4)
    val ref = (for (i <- 0L until 8L; j <- 0L until 5L) yield f2(Array(i, j)))
      .filter(_ % 3.0 == 0.0)
    assert(sel.shape == Seq(ref.length.toLong))
    assert(vec(sel).toSeq == ref)
    // masked assign through the same path
    val values = GArr.fromFunction(spark, Seq(ref.length.toLong), Seq(3))(g => 700.0 + g(0))
    val u = a.maskedAssign(m, values)
    val g = indexed(u)
    var r = 0
    for (i <- 0 until 8; j <- 0 until 5) {
      val orig = f2(Array(i.toLong, j.toLong))
      val want = if (orig % 3.0 == 0.0) { val w = 700.0 + r; r += 1; w } else orig
      assert(g((i * 5 + j).toLong) == want, s"($i,$j)")
    }
  }

  test("maskedAssign 2-D: wrong value length is rejected loudly") {
    val a = GArr.fromFunction(spark, Seq(4L, 4L), Seq(2, 2))(f2)
    val mask = GArr.fromFunction(spark, Seq(4L, 4L), Seq(2, 2))(g => if (g(0) == g(1)) 1.0 else 0.0)
    val bad = GArr.fromFunction(spark, Seq(2L), Seq(2))(g => g(0).toDouble)
    val before = persisted()
    intercept[IllegalArgumentException] { a.maskedAssign(mask, bad) }
    assert(persistedSince(before).isEmpty, s"a rejected call left persisted: ${persistedSince(before)}")
  }

  test("updatedSlice array: 2-D block assignment across chunk boundaries") {
    val a = GArr.fromFunction(spark, Seq(6L, 7L), Seq(2, 3))(f2)
    val v = GArr.fromFunction(spark, Seq(3L, 3L), Seq(2, 2))(g => -(1.0 + g(0) * 3 + g(1)))
    val u = a.updatedSlice(Seq((1L, 6L, 2L), (2L, 7L, 2L)), v)
    val g = indexed(u)
    for (i <- 0L until 6L; j <- 0L until 7L) {
      val vi = (i - 1) / 2; val vj = (j - 2) / 2
      val inSlice = i >= 1 && (i - 1) % 2 == 0 && j >= 2 && (j - 2) % 2 == 0
      val want = if (inSlice) -(1.0 + vi * 3 + vj) else f2(Array(i, j))
      assert(g(i * 7 + j) == want, s"($i,$j)")
    }
  }

  // ---- round-11 generality: updatedAt mixed tuples + ndim index arrays --

  test("updatedFancy: 2-D index array flattens to numpy C-order write sequence") {
    // x[idx2d] = v with idx2d (2,3) incl. duplicates + a negative index;
    // value shape = idx.shape ++ x.shape[1:] = (2,3,5); last-wins in the
    // C-order of the index array (numpy sequential-store semantics)
    val a = GArr.fromFunction(spark, Seq(9L, 5L), Seq(2, 2))(f2)
    val idxVals = Array(7L, 2L, 7L, -1L, 0L, 2L) // flattened C order
    val idx = GArr.fromFunction(spark, Seq(2L, 3L), Seq(1, 2))(g =>
      idxVals((g(0) * 3 + g(1)).toInt).toDouble)
    val fv: Array[Long] => Double = g => 1000.0 + g(0) * 100 + g(1) * 10 + g(2)
    val v = GArr.fromFunction(spark, Seq(2L, 3L, 5L), Seq(1, 2, 3))(fv)
    val u = a.updatedFancy(idx, v, axis = 0)
    val dense = Array.tabulate(9, 5)((i, j) => f2(Array(i.toLong, j.toLong)))
    for (p <- idxVals.indices) {
      val r = (if (idxVals(p) < 0) idxVals(p) + 9 else idxVals(p)).toInt
      for (j <- 0 until 5)
        dense(r)(j) = fv(Array(p / 3, p % 3, j.toLong))
    }
    val g = indexed(u)
    for (i <- 0 until 9; j <- 0 until 5)
      assert(g((i * 5 + j).toLong) == dense(i)(j), s"($i,$j)")
  }

  test("updatedAt: slice + array index tuple, value off-axis chunking free") {
    // x[1:8:2, idx] = v — rows from a stepped slice, columns from a
    // distributed index array with duplicates
    val a = GArr.fromFunction(spark, Seq(9L, 11L), Seq(3, 4))(f2)
    val cols = Array(9L, 1L, 9L, 4L)
    val idx = GArr.fromFunction(spark, Seq(4L), Seq(2))(g => cols(g(0).toInt).toDouble)
    val fv: Array[Long] => Double = g => -(100.0 + g(0) * 10 + g(1))
    val v = GArr.fromFunction(spark, Seq(4L, 4L), Seq(3, 3))(fv)
    val u = a.updatedAt(Seq(AssignIdx.Sl(1, 8, 2), AssignIdx.Ix(idx)), v)
    val dense = Array.tabulate(9, 11)((i, j) => f2(Array(i.toLong, j.toLong)))
    for (t <- 0 until 4; p <- cols.indices)
      dense(1 + 2 * t)(cols(p).toInt) = fv(Array(t.toLong, p.toLong))
    val g = indexed(u)
    for (i <- 0 until 9; j <- 0 until 11)
      assert(g((i * 11 + j).toLong) == dense(i)(j), s"($i,$j)")
  }

  test("updatedAt: integer (squeezed) + negative-step slice + array on a 3-D base") {
    // x[2, 6:0:-2, idx] = v with v shape (3, idxLen): the Pt dim is absent
    // from the value (numpy squeeze), the descending slice maps affinely
    val f3: Array[Long] => Double = g => 1.0 + g(0) * 100 + g(1) * 10 + g(2)
    val a = GArr.fromFunction(spark, Seq(4L, 7L, 6L), Seq(2, 3, 2))(f3)
    val deps = Array(5L, 0L, 5L)
    val idx = GArr.fromFunction(spark, Seq(3L), Seq(2))(g => deps(g(0).toInt).toDouble)
    val fv: Array[Long] => Double = g => 9000.0 + g(0) * 10 + g(1)
    val v = GArr.fromFunction(spark, Seq(3L, 3L), Seq(2, 2))(fv)
    val u = a.updatedAt(
      Seq(AssignIdx.Pt(2), AssignIdx.Sl(6, 0, -2), AssignIdx.Ix(idx)), v)
    val dense = Array.tabulate(4, 7, 6)((i, j, k) => f3(Array(i.toLong, j.toLong, k.toLong)))
    val rows = Seq(6, 4, 2) // 6:0:-2
    for (t <- rows.indices; p <- deps.indices)
      dense(2)(rows(t))(deps(p).toInt) = fv(Array(t.toLong, p.toLong))
    val g = indexed(u)
    for (i <- 0 until 4; j <- 0 until 7; k <- 0 until 6)
      assert(g((i * 42 + j * 6 + k).toLong) == dense(i)(j)(k), s"($i,$j,$k)")
  }

  test("updatedAt: pure-slice tuple with a negative step flips the value") {
    // x[8:1:-3, 1:4] = v — no array index: rides updatedSlice after the
    // reference's negative-step transform (flip + ascending twin)
    val a = GArr.fromFunction(spark, Seq(9L, 5L), Seq(2, 2))(f2)
    val fv: Array[Long] => Double = g => -(10.0 + g(0) * 3 + g(1))
    val v = GArr.fromFunction(spark, Seq(3L, 3L), Seq(2, 2))(fv)
    val u = a.updatedAt(Seq(AssignIdx.Sl(8, 1, -3), AssignIdx.Sl(1, 4, 1)), v)
    val dense = Array.tabulate(9, 5)((i, j) => f2(Array(i.toLong, j.toLong)))
    val rows = Seq(8, 5, 2) // 8:1:-3
    for (t <- rows.indices; j <- 0 until 3)
      dense(rows(t))(1 + j) = fv(Array(t.toLong, j.toLong))
    val g = indexed(u)
    for (i <- 0 until 9; j <- 0 until 5)
      assert(g((i * 5 + j).toLong) == dense(i)(j), s"($i,$j)")
  }

  test("updatedAt: 1-D boolean mask index on one dim resolves via flatnonzero") {
    // x[:, mask] = v — the reference's bool-1d branch
    val a = GArr.fromFunction(spark, Seq(4L, 10L), Seq(2, 3))(f2)
    val mask = GArr.fromFunction(spark, Seq(10L), Seq(3))(g =>
      if (g(0) % 3 == 1) 1.0 else 0.0) // cols 1,4,7
    val fv: Array[Long] => Double = g => 5000.0 + g(0) * 10 + g(1)
    val v = GArr.fromFunction(spark, Seq(4L, 3L), Seq(2, 2))(fv)
    val u = a.updatedAt(Seq(AssignIdx.All, AssignIdx.Bx(mask)), v)
    val dense = Array.tabulate(4, 10)((i, j) => f2(Array(i.toLong, j.toLong)))
    val cols = Seq(1, 4, 7)
    for (i <- 0 until 4; p <- cols.indices)
      dense(i)(cols(p)) = fv(Array(i.toLong, p.toLong))
    val g = indexed(u)
    for (i <- 0 until 4; j <- 0 until 10)
      assert(g((i * 10 + j).toLong) == dense(i)(j), s"($i,$j)")
  }

  test("updatedAt scalar RHS: slice fill and array-index fill") {
    val a = GArr.fromFunction(spark, Seq(8L, 6L), Seq(3, 2))(f2)
    // pure slices, one descending: x[7:0:-2, 1:5] = -1 (no flip needed)
    val u1 = a.updatedAt(Seq(AssignIdx.Sl(7, 0, -2), AssignIdx.Sl(1, 5, 1)), -1.0)
    val g1 = indexed(u1)
    for (i <- 0 until 8; j <- 0 until 6) {
      val hit = Seq(7, 5, 3, 1).contains(i) && j >= 1 && j < 5
      val want = if (hit) -1.0 else f2(Array(i.toLong, j.toLong))
      assert(g1((i * 6 + j).toLong) == want, s"($i,$j)")
    }
    // with an array index: x[idx, ::2] = 42
    val idx = GArr.fromFunction(spark, Seq(3L), Seq(2))(g => Seq(6.0, 0.0, 6.0)(g(0).toInt))
    val u2 = a.updatedAt(Seq(AssignIdx.Ix(idx), AssignIdx.Sl(0, 6, 2)), 42.0)
    val g2 = indexed(u2)
    for (i <- 0 until 8; j <- 0 until 6) {
      val hit = (i == 6 || i == 0) && j % 2 == 0
      val want = if (hit) 42.0 else f2(Array(i.toLong, j.toLong))
      assert(g2((i * 6 + j).toLong) == want, s"($i,$j)")
    }
  }

  test("updatedAt: two array indices rejected (reference contract); shape mismatch loud") {
    val a = GArr.fromFunction(spark, Seq(5L, 5L), Seq(2, 2))(f2)
    val i1 = GArr.fromFunction(spark, Seq(2L), Seq(2))(g => g(0).toDouble)
    intercept[IllegalArgumentException] {
      a.updatedAt(Seq(AssignIdx.Ix(i1), AssignIdx.Ix(i1)),
        GArr.fromFunction(spark, Seq(2L, 2L), Seq(2, 2))(_ => 0.0))
    }
    intercept[IllegalArgumentException] {
      a.updatedAt(Seq(AssignIdx.Ix(i1), AssignIdx.All),
        GArr.fromFunction(spark, Seq(3L, 5L), Seq(2, 2))(_ => 0.0))
    }
  }

  test("updatedAt: empty selection is a no-op") {
    val a = GArr.fromFunction(spark, Seq(6L), Seq(2))(f1)
    val u = a.updatedAt(Seq(AssignIdx.Sl(3, 3, 1)),
      GArr.fromFunction(spark, Seq(0L), Seq(1))(_ => 0.0))
    assert(vec(u).toSeq == (0L until 6L).map(i => f1(Array(i))))
  }

  // --- vindex (core.py:2047 _vindex / :5854 _vindex_array) ---

  test("vindex 2-D pointwise: the reference docstring example, uneven chunks") {
    // x = arange(56).reshape(7,8), chunks (3,4);
    // x.vindex[[0,1,6,0],[0,1,0,7]] -> [0, 9, 48, 7]
    val a = GArr.fromFunction(spark, Seq(7L, 8L), Seq(3, 4))(g => (g(0) * 8 + g(1)).toDouble)
    val v = a.vindex(Map(
      0 -> (Seq(4L), Array(0L, 1L, 6L, 0L)),
      1 -> (Seq(4L), Array(0L, 1L, 0L, 7L))))
    assert(v.shape == Seq(4L))
    assert(vec(v).toSeq == Seq(0.0, 9.0, 48.0, 7.0))
  }

  test("vindex: negative indices wrap, duplicates allowed, salt>1 identical") {
    val a = GArr.fromFunction(spark, Seq(6L, 5L), Seq(2, 2))(f2)
    val i0 = Array(-1L, 2L, 2L, -6L)
    val i1 = Array(0L, -2L, -2L, 4L)
    val want = i0.zip(i1).map { case (r, c) =>
      f2(Array(if (r < 0) r + 6 else r, if (c < 0) c + 5 else c))
    }.toSeq
    for (salt <- Seq(1, 3)) {
      val v = a.vindex(Map(0 -> (Seq(4L), i0), 1 -> (Seq(4L), i1)), salt = salt)
      assert(vec(v).toSeq == want, s"salt=$salt")
    }
  }

  test("vindex: broadcast index shapes (3,1) x (4) -> subspace (3,4)") {
    val a = GArr.fromFunction(spark, Seq(9L, 7L), Seq(4, 3))(f2)
    val rows = Array(1L, 4L, 8L)
    val cols = Array(0L, 6L, 2L, 5L)
    val v = a.vindex(Map(
      0 -> (Seq(3L, 1L), rows),
      1 -> (Seq(4L), cols)), targetChunk = 5)
    assert(v.shape == Seq(3L, 4L))
    val g = indexed(v)
    for (i <- 0 until 3; j <- 0 until 4)
      assert(g((i * 4 + j).toLong) == f2(Array(rows(i), cols(j))), s"($i,$j)")
  }

  test("vindex partial axes: subspace first, untouched axes keep order") {
    // 3-D array, index axis 1 only: result (npoints, d0, d2)
    val f3: Array[Long] => Double = g => 1.0 + 3.0 * g(0) + 17.0 * g(1) + 31.0 * g(2)
    val a = GArr.fromFunction(spark, Seq(4L, 9L, 3L), Seq(2, 4, 2))(f3)
    val mids = Array(8L, 0L, 5L)
    val v = a.vindex(Map(1 -> (Seq(3L), mids)))
    assert(v.shape == Seq(3L, 4L, 3L))
    val g = indexed(v)
    for (p <- 0 until 3; i <- 0 until 4; k <- 0 until 3)
      assert(g((p * 12 + i * 3 + k).toLong) == f3(Array(i.toLong, mids(p), k.toLong)),
        s"($p,$i,$k)")
  }

  test("blocksAt: block-grid range select = the matching element slice, no shuffle") {
    val a = GArr.fromFunction(spark, Seq(7L, 9L), Seq(3, 4))(f2) // grid 3x3, uneven tails
    val b = a.blocksAt(Seq(1 to 2, 0 to 1))
    // blocks (1..2, 0..1) cover rows 3..6, cols 0..7
    assert(b.shape == Seq(4L, 8L))
    assert(b.chunks == Seq(Seq(3, 1), Seq(4, 4)))
    val g = indexed(b)
    for (i <- 0 until 4; j <- 0 until 8)
      assert(g((i * 8 + j).toLong) == f2(Array(i + 3L, j.toLong)), s"($i,$j)")
    intercept[IllegalArgumentException] { a.blocksAt(Seq(0 to 3, 0 to 0)) }
  }

  test("blocksPick: arbitrary block lists — order, duplicates, negative wrap") {
    val a = GArr.fromFunction(spark, Seq(7L, 9L), Seq(3, 4))(f2) // grid 3x3
    // rows: blocks [2, 0, 2] (dup + out of order); cols: [-1] (wraps to 2)
    val b = a.blocksPick(Seq(Seq(2, 0, 2), Seq(-1)))
    // row blocks 2,0,2 have sizes 1,3,1; col block 2 covers col 8 (size 1)
    assert(b.shape == Seq(5L, 1L))
    assert(b.chunks == Seq(Seq(1, 3, 1), Seq(1)))
    val g = indexed(b)
    val rowOf = Seq(6L, 0L, 1L, 2L, 6L) // block2 row, then block0 rows, then block2 again
    for (i <- 0 until 5)
      assert(g(i.toLong) == f2(Array(rowOf(i), 8L)), s"row $i")
    intercept[IllegalArgumentException] { a.blocksPick(Seq(Seq(3), Seq(0))) }
  }

  test("vindexMixed: int squeezes, slice reduces, arrays gather on the reduced rank") {
    // 3-D base: key = (int 2, slice 1..7:2, array [4,0,4]) — result
    // (3 points, 3 slice cols), subspace first
    val f3: Array[Long] => Double = g => 1.0 + 5.0 * g(0) + 11.0 * g(1) + 23.0 * g(2)
    val a = GArr.fromFunction(spark, Seq(4L, 8L, 5L), Seq(2, 3, 2))(f3)
    val v = a.vindexMixed(Seq(
      VindexKey.I(2),
      VindexKey.S(1, 7, 2),
      VindexKey.A(Seq(3L), Array(4L, 0L, 4L))))
    assert(v.shape == Seq(3L, 3L))
    val g = indexed(v)
    val cols = Seq(1L, 3L, 5L)
    val pts = Seq(4L, 0L, 4L)
    for (p <- 0 until 3; j <- 0 until 3)
      assert(g((p * 3 + j).toLong) == f3(Array(2L, cols(j), pts(p))), s"($p,$j)")
    // negative int wraps; all-slice keys are rejected
    val v2 = a.vindexMixed(Seq(VindexKey.I(-1), VindexKey.All,
      VindexKey.A(Seq(2L), Array(0L, 3L))))
    assert(v2.shape == Seq(2L, 8L))
    intercept[IllegalArgumentException] {
      a.vindexMixed(Seq(VindexKey.All, VindexKey.All, VindexKey.All))
    }
  }

  test("vindex: out-of-bounds raises; non-broadcastable shapes raise") {
    val a = GArr.fromFunction(spark, Seq(5L, 5L), Seq(2, 2))(f2)
    intercept[Exception] {
      vec(a.vindex(Map(0 -> (Seq(1L), Array(5L)), 1 -> (Seq(1L), Array(0L)))))
    }
    intercept[IllegalArgumentException] {
      a.vindex(Map(0 -> (Seq(2L), Array(0L, 1L)), 1 -> (Seq(3L), Array(0L, 1L, 2L))))
    }
  }
}
