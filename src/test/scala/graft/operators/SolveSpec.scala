package graft.operators

import graft.SparkTestBase

/** Blocked triangular solve / solve / inv / Cholesky (reference
  * `dask/array/linalg.py:1114` solve_triangular, `:1208` solve, `:1268`
  * inv, `:1295` cholesky): driver-checked reconstruction on
  * deterministic well-conditioned matrices, with the cogroup
  * (panelBroadcastBytes = 0) delivery path forced explicitly — the
  * 100 TB path must produce the same numbers as the broadcast path.
  */
class SolveSpec extends SparkTestBase {

  private def cells(a: GArr): Map[Long, Double] =
    a.toIndexedDF.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def dense(a: GArr): Array[Array[Double]] = {
    val c = cells(a)
    val rows = a.shape(0).toInt; val cols = a.shape(1).toInt
    Array.tabulate(rows, cols)((i, j) => c(i.toLong * cols + j))
  }

  /** Diagonally dominant deterministic n×n GArr (bs chunks). */
  private def buildSquare(n: Int, bs: Int): GArr =
    GArr.fromFunction(spark, Seq(n.toLong, n.toLong), Seq(bs, bs)) { g =>
      val i = g(0); val j = g(1)
      ((i * 37 + j * 23 + 11) % 19).toDouble + (if (i == j) 4.0 * n else 0.0)
    }

  /** Deterministic n×m rhs with the given chunking. */
  private def buildRhs(n: Int, m: Int, bs: Int, cs: Int): GArr =
    GArr.fromFunction(spark, Seq(n.toLong, m.toLong), Seq(bs, cs)) { g =>
      ((g(0) * 13 + g(1) * 7 + 3) % 17).toDouble - 8.0
    }

  /** Lower-triangular diagonally dominant n×n GArr. */
  private def buildLower(n: Int, bs: Int): GArr =
    GArr.fromFunction(spark, Seq(n.toLong, n.toLong), Seq(bs, bs)) { g =>
      val i = g(0); val j = g(1)
      if (j > i) 0.0
      else if (i == j) 2.0 * n + (i % 5).toDouble
      else ((i * 29 + j * 31) % 7).toDouble - 3.0
    }

  /** `(bi, bj) -> data` of a block DataFrame. */
  private def blockCells(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Seq[Double]] =
    df.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap

  test("solveTriangular lower/upper: T·X = B on multi-block grids, broadcast and cogroup paths") {
    // ragged col chunks: (4,4,2) and (2,2,1); (18, 2) runs 9 rounds, so the
    // 8th round's localCheckpoint is on the path
    for ((n, bs, m, cs) <- Seq((24, 6, 10, 4), (18, 2, 5, 2))) {
      val lowT = buildLower(n, bs)
      val upT = lowT.transpose(Seq(1, 0)) // upper-triangular, same dominance
      val b = buildRhs(n, m, bs, cs)
      val (lowDf, _) = Linalg.garrToBlocks(lowT)
      val (upDf, _) = Linalg.garrToBlocks(upT)
      val solved = for (gate <- Seq(16L << 20, 0L)) yield {
        val xl = Linalg.solveTriangular(lowDf, bs, b, lower = true,
          panelBroadcastBytes = gate)
        val xu = Linalg.solveTriangular(upDf, bs, b, lower = false,
          panelBroadcastBytes = gate)
        val td = dense(lowT); val ud = dense(upT); val bd = dense(b)
        val xld = dense(xl); val xud = dense(xu)
        for (i <- 0 until n; j <- 0 until m) {
          val gotL = (0 until n).map(k => td(i)(k) * xld(k)(j)).sum
          assert(math.abs(gotL - bd(i)(j)) < 1e-8,
            s"n=$n gate=$gate lower T·X($i,$j)=$gotL vs ${bd(i)(j)}")
          val gotU = (0 until n).map(k => ud(i)(k) * xud(k)(j)).sum
          assert(math.abs(gotU - bd(i)(j)) < 1e-8,
            s"n=$n gate=$gate upper T·X($i,$j)=$gotU vs ${bd(i)(j)}")
        }
        xl.unpersist(); xu.unpersist()
        (xld.map(_.toSeq).toSeq, xud.map(_.toSeq).toSeq)
      }
      assert(solved(0) == solved(1), s"n=$n: the two delivery paths differ")
    }
  }

  test("solveTriangular: a T without one of its diagonal blocks is rejected on both paths") {
    val n = 24; val bs = 6
    val (lowDf, _) = Linalg.garrToBlocks(buildLower(n, bs))
    val holed = lowDf.where(!(lowDf("bi") === 1 && lowDf("bj") === 1))
    for (gate <- Seq(16L << 20, 0L)) {
      val e = intercept[IllegalArgumentException](Linalg.solveTriangular(holed, bs,
        buildRhs(n, 3, bs, 3), lower = true, panelBroadcastBytes = gate))
      assert(e.getMessage.contains("diagonal block"), s"gate=$gate: ${e.getMessage}")
    }
  }

  test("solve: A·X = B via LU + two triangular solves, both delivery paths") {
    val n = 24; val bs = 6; val m = 7
    val a = buildSquare(n, bs)
    val b = buildRhs(n, m, bs, 7)
    for (gate <- Seq(16L << 20, 0L)) {
      val x = Linalg.solve(a, b, panelBroadcastBytes = gate)
      assert(x.shape == Seq(n.toLong, m.toLong))
      val ad = dense(a); val bd = dense(b); val xd = dense(x)
      for (i <- 0 until n; j <- 0 until m) {
        val got = (0 until n).map(k => ad(i)(k) * xd(k)(j)).sum
        assert(math.abs(got - bd(i)(j)) < 1e-7,
          s"gate=$gate A·X($i,$j)=$got vs ${bd(i)(j)}")
      }
      x.unpersist()
    }
  }

  test("inv: A·A⁻¹ = I on a multi-block grid") {
    val n = 20; val bs = 5
    val a = buildSquare(n, bs)
    val ainv = Linalg.inv(a)
    val ad = dense(a); val id = dense(ainv)
    for (i <- 0 until n; j <- 0 until n) {
      val got = (0 until n).map(k => ad(i)(k) * id(k)(j)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(got - want) < 1e-8, s"A·inv($i,$j)=$got vs $want")
    }
    ainv.unpersist()
  }

  test("cholesky: L·Lᵀ = A for SPD input; L lower; cogroup path matches") {
    // (18, 2) runs 9 rounds, so the 8th round's localCheckpoint is on the path
    for ((n, bs) <- Seq((24, 6), (18, 2))) {
      // SPD: M·Mᵀ + n·I from a deterministic integer M
      val mArr = buildSquare(n, bs)
      val md = dense(mArr)
      val spd = Array.tabulate(n, n) { (i, j) =>
        (0 until n).map(k => md(i)(k) * md(j)(k)).sum + (if (i == j) n.toDouble else 0.0)
      }
      val a = GArr.fromFunction(spark, Seq(n.toLong, n.toLong), Seq(bs, bs)) { g =>
        // rebuild SPD cell executor-side from the same integer formula
        def cell(i: Long, j: Long): Double =
          ((i * 37 + j * 23 + 11) % 19).toDouble + (if (i == j) 4.0 * n else 0.0)
        (0 until n).map(k => cell(g(0), k) * cell(g(1), k)).sum +
          (if (g(0) == g(1)) n.toDouble else 0.0)
      }
      val l = Linalg.cholesky(a)
      val ld = dense(l)
      for (i <- 0 until n; j <- i + 1 until n)
        assert(ld(i)(j) == 0.0, s"L($i,$j)=${ld(i)(j)} above diagonal")
      for (i <- 0 until n; j <- 0 until n) {
        val got = (0 until n).map(k => ld(i)(k) * ld(j)(k)).sum
        assert(math.abs(got - spd(i)(j)) < 1e-6 * (1.0 + math.abs(spd(i)(j))),
          s"LLt($i,$j)=$got vs ${spd(i)(j)}")
      }
      // cogroup path (forced): identical factor
      val (df, _) = Linalg.garrToBlocks(a)
      val lowDf2 = Linalg.cholesky(df, bs, panelBroadcastBytes = 0L)
      val viaCogroup = lowDf2.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      val (dfRef, _) = Linalg.garrToBlocks(l)
      val viaBroadcast = dfRef.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      viaCogroup.foreach { case (k, d) =>
        val ref = viaBroadcast(k)
        d.indices.foreach(ix => assert(math.abs(d(ix) - ref(ix)) < 1e-9,
          s"block $k elem $ix: ${d(ix)} vs ${ref(ix)}"))
      }
      // both delivery paths run the same update on the same blocks
      assert(blockCells(lowDf2) == blockCells(Linalg.cholesky(df, bs)),
        s"n=$n: the two delivery paths differ")
    }
  }

  test("cholesky: a lower half with a block left out is rejected on both paths") {
    // block-diagonal SPD 4×4 at b=2; its zero (1,0) block is left out
    val a = Array[Double](4, 1, 0, 0, 1, 3, 0, 0, 0, 0, 5, 2, 0, 0, 2, 6) // col-major
    val blocks = Linalg.denseToBlocks(spark, a, 4, 2)
    val holed = blocks.where(!(blocks("bi") === 1 && blocks("bj") === 0))
    for (gate <- Seq(16L << 20, 0L)) {
      val e = intercept[IllegalArgumentException](
        Linalg.cholesky(holed, 2, panelBroadcastBytes = gate))
      assert(e.getMessage.contains("expected 3 blocks, found 2"), s"gate=$gate: ${e.getMessage}")
    }
  }

  test("solve composes: x = solve(A, b) then A.matmul(x) cell-matches b") {
    val n = 12; val bs = 4
    val a = buildSquare(n, bs)
    val b = buildRhs(n, 1, bs, 1)
    val x = Linalg.solve(a, b)
    val recon = cells(a.matmul(x))
    val want = cells(b)
    want.foreach { case (idx, v) =>
      assert(math.abs(recon(idx) - v) < 1e-8, s"idx $idx: ${recon(idx)} vs $v")
    }
    x.unpersist()
  }
}
