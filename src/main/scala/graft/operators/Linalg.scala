package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.mllib.linalg.{DenseMatrix, Matrix, Vectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** Distributed linear algebra for the array module's linalg family
  * (SURVEY §2.11): tall-skinny QR (`dask/array/linalg.py:60` `tsqr`), SVD
  * (`:874`), and gram/covariance products — mapped onto Spark ML's
  * `RowMatrix`, whose `tallSkinnyQR` IS the tsqr algorithm (tree of
  * local QRs) and whose `computeSVD` runs the same
  * gramian-eigendecomposition the reference's `svd_compressed` family
  * approximates. Generic ndarray slicing/rechunk/fft stay descoped
  * (SURVEY §7.4).
  *
  * Input: a DataFrame with an `Array[Float|Double]` vector column — the
  * same shape as the `embeddings` fixture — so the linalg surface
  * composes with the similarity/dedup pipeline (PCA-whitening before ANN,
  * etc.).
  */
object Linalg {

  /** Rows of `vecCol` as an mllib RowMatrix (row order is not tracked —
    * matches dask arrays, where row blocks are unordered across chunks
    * for these reductions).
    */
  def rowMatrix(df: DataFrame, vecCol: String): RowMatrix = {
    val rows: RDD[org.apache.spark.mllib.linalg.Vector] = df
      .select(transform(col(vecCol), _.cast("double")).as("v"))
      .rdd.map(r => Vectors.dense(r.getSeq[Double](0).toArray))
    new RowMatrix(rows)
  }

  /** Tall-skinny QR: returns R (k×k, driver-side) — `tsqr`'s reduced
    * factor. Q is distributed; R is the small dense triangle.
    */
  def tsqrR(df: DataFrame, vecCol: String): Matrix =
    rowMatrix(df, vecCol).tallSkinnyQR(computeQ = false).R

  /** Top-k singular values (driver-side k-vector). */
  def singularValues(df: DataFrame, vecCol: String, k: Int): Array[Double] =
    rowMatrix(df, vecCol).computeSVD(k, computeU = false).s.toArray

  /** Gramian Aᵀ·A (k×k) — one distributed pass; the building block of
    * covariance and of the reference's `da.dot(x.T, x)` pattern.
    */
  def gramian(df: DataFrame, vecCol: String): Matrix =
    rowMatrix(df, vecCol).computeGramianMatrix()

  /** Principal components (k×p, driver-side) — dimensionality reduction
    * for the embedding pipeline.
    */
  def principalComponents(df: DataFrame, vecCol: String, k: Int): DenseMatrix =
    rowMatrix(df, vecCol).computePrincipalComponents(k).asInstanceOf[DenseMatrix]

  /** Randomized (compressed) SVD — the reference's `svd_compressed`
    * (`dask/array/linalg.py:746`, Halko/Martinsson/Tropp 2011): project A
    * (n×p) onto a random range sketch, orthonormalize, and take the SVD
    * of the small projected factor.
    *
    * Distributed shape (all driver-side matrices are ≤ p×(k+oversample)):
    *   1. Ω (p×l, l = k+oversample) — deterministic seeded gaussian from
    *      `Hashing.mix64`, generated identically on every executor (no
    *      broadcast of randomness needed, mirrors RandomData's portable
    *      generator);
    *   2. Y = A·Ω via `RowMatrix.multiply` — one narrow map over rows;
    *   3. R = tsqr(Y) (tree of local QRs), B = (Y·R⁻¹)ᵀA computed as a
    *      single gramian-style pass: Bᵀ = AᵀY·R⁻ᵀ, where AᵀY (p×l) is one
    *      `treeAggregate` outer-product pass;
    *   4. SVD of the l×p matrix Bᵀ on the driver (tiny), singular values
    *      of B ≈ top singular values of A.
    *
    * Two distributed passes total, each narrow; nothing larger than p×l
    * ever leaves the executors.  Power iterations (`q`) re-multiply
    * through A twice per iteration to sharpen the spectrum, exactly as
    * the reference's `power_iteration_algorithm='power'` path does.
    */
  def svdCompressed(df: DataFrame, vecCol: String, k: Int,
                    oversample: Int = 10, powerIters: Int = 0,
                    seed: Long = 42L): Array[Double] = {
    import graft.functions.Hashing.mix64
    val mat = rowMatrix(df, vecCol)
    mat.rows.cache()
    try {
      val p = mat.numCols().toInt
      val l = math.min(k + oversample, p)
      // deterministic gaussian sketch: Box–Muller over mix64 uniforms
      def gauss(i: Int, j: Int): Double = {
        val h1 = mix64(seed ^ (i.toLong << 32) ^ j.toLong)
        val h2 = mix64(h1 ^ 0x9e3779b97f4a7c15L)
        val u1 = ((h1 >>> 11).toDouble + 0.5) / (1L << 53).toDouble
        val u2 = ((h2 >>> 11).toDouble + 0.5) / (1L << 53).toDouble
        math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      }
      val omega = new DenseMatrix(p, l,
        Array.tabulate(p * l) { idx => gauss(idx % p, idx / p) }) // column-major
      var y = mat.multiply(omega) // n×l, narrow map
      // power iterations: Y ← A·(Aᵀ·Y), each Aᵀ·Y a treeAggregate pass.
      // Re-orthonormalize Y between iterations (Q of its tsqr): without
      // it, components along trailing singular directions shrink by
      // (σᵢ/σ₁)^(2q) and drop below double precision for ill-conditioned
      // inputs — the same per-iteration QR sklearn's randomized_svd and
      // the reference's compression_matrix insert.
      // rank-deficient input makes R singular and tallSkinnyQR's inv(R)
      // throw; stop iterating there and let the collapsed-pivot truncation
      // below absorb the deficiency — the same graceful degradation the
      // powerIters = 0 path already has on identical input.
      var degenerate = false
      for (_ <- 0 until powerIters if !degenerate) {
        try {
          val q = y.tallSkinnyQR(computeQ = true).Q
          val aty = atB(mat, q, l) // p×l driver-side
          y = mat.multiply(new DenseMatrix(p, l, aty))
        } catch {
          case _: breeze.linalg.MatrixSingularException => degenerate = true
        }
      }
      // orthonormalize the sketch: Q·R = Y; then B = Qᵀ·A and
      // svd(B).s ≈ svd(A).s[0..l). Compute Bᵀ = (AᵀY)·R⁻ᵀ (p×l, driver).
      val r = y.tallSkinnyQR(computeQ = false).R.toArray // l×l col-major
      // rank-truncate: a rank-deficient sketch (input rank < l) leaves
      // near-zero trailing R diagonal entries; solving through them would
      // amplify fp noise into spurious singular values. With a random Ω
      // the leading columns are generically well-conditioned, so cut at
      // the first collapsed pivot.
      val maxDiag = (0 until l).map(j => math.abs(r(j * l + j))).max
      // an all-zero sketch means A itself is (numerically) zero: its
      // spectrum is zero — solving through a zero pivot would yield NaNs
      if (maxDiag == 0.0) return Array.fill(k)(0.0)
      val leff0 = (0 until l).indexWhere(j => math.abs(r(j * l + j)) <= maxDiag * 1e-12)
      val leff = if (leff0 < 0) l else math.max(leff0, 1)
      val atYArr = atB(mat, y, l) // p×l col-major
      val bt = solveRt(atYArr, r, p, l, leff) // Bᵀ = AᵀY · R⁻¹ (right-solve)
      // singular values of Bᵀ (p×leff) == singular values of B
      val btm = breeze.linalg.DenseMatrix.create(p, leff, bt.take(p * leff))
      val svs = breeze.linalg.svd(btm).S.toArray
      (svs ++ Array.fill(math.max(0, k - svs.length))(0.0)).take(k)
    } finally { mat.rows.unpersist(false) }
  }

  /** Cholesky factor L (p×p, lower-triangular, driver-side) of the
    * distributed gramian AᵀA — the reference's `cholesky`
    * (`dask/array/linalg.py:1295`) in the shape a tall-skinny engine
    * meets: the distributed pass is the gramian; the factorization of
    * the small p×p result is driver arithmetic.
    */
  def choleskyGram(df: DataFrame, vecCol: String): breeze.linalg.DenseMatrix[Double] = {
    val g = gramian(df, vecCol)
    val m = breeze.linalg.DenseMatrix.create(g.numRows, g.numCols, g.toArray)
    breeze.linalg.cholesky(m)
  }

  /** Solve (AᵀA)·x = b for a driver-side right-hand side — the
    * reference's `solve` (`dask/array/linalg.py:1114`) on the normal
    * matrix: one distributed gramian pass + a p×p driver solve.
    */
  def solveGram(df: DataFrame, vecCol: String, b: Array[Double]): Array[Double] = {
    val g = gramian(df, vecCol)
    require(b.length == g.numCols, s"rhs length ${b.length} != ${g.numCols}")
    val m = breeze.linalg.DenseMatrix.create(g.numRows, g.numCols, g.toArray)
    (m \ breeze.linalg.DenseVector(b)).toArray
  }

  /** Distributed ordinary least squares — the reference's `lstsq`/`solve`
    * family (`dask/array/linalg.py:1114-1476`) for the tall-skinny case
    * that a query engine actually meets: A is n×p with p small (features),
    * n huge (rows).
    *
    * One `treeAggregate` pass accumulates the normal equations AᵀA (p×p)
    * and Aᵀy (p); the driver solves the p×p system with a breeze
    * Cholesky/LU (`\`), falling back to the pseudo-inverse (min-norm
    * solution, the numpy/dask lstsq contract) when the design is
    * rank-deficient.  Nothing proportional to n ever reaches the driver,
    * and the single pass is narrow — the same shape dask's lstsq lowers
    * to (tsqr + small solve).  `intercept=true` appends a constant
    * feature and returns it FIRST in the coefficient array.
    *
    * Rows with a null y, a null vector, or any null element are DROPPED
    * (pandas-dropna semantics) — both physical paths agree; without the
    * filter, independent per-aggregate null-skipping would build AᵀA and
    * Aᵀy over different row subsets.  NaN propagates (NaN in → NaN β).
    *
    * `exactIntegral=true` (small-p path only): features and y are
    * integer-valued, so every normal-equation term is an exact integer —
    * accumulate them as BIGINTs.  Long sums are order-independent: any
    * partitioning or combine order yields bit-identical AᵀA/Aᵀy, which is
    * what makes β reproducible at any scale (float sums drift with n).
    * Caller contract: per-row products must stay within 2⁵³ (they are
    * formed as doubles before the cast) and totals within 2⁶³.
    */
  def lstsq(df: DataFrame, vecCol: String, yCol: String,
            intercept: Boolean = true,
            exactIntegral: Boolean = false): Array[Double] = {
    // dimension probe must skip null vectors (a null in the first row is
    // data, not an error) — the null-aware filter below drops them anyway
    val probe = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
    require(probe.nonEmpty, "lstsq: no non-null vectors in input")
    val p0 = probe(0).getInt(0)
    val p = if (intercept) p0 + 1 else p0
    val clean = df.filter(
      col(yCol).isNotNull && col(vecCol).isNotNull &&
        !exists(col(vecCol), _.isNull))
    // fixed-dim contract: every vector must match the probed length —
    // element_at past the end is NULL (silently skipped per-aggregate) and
    // the wide path would index out of bounds; fail fast instead. The
    // check rides the same single pass (two extra agg slots / one require
    // in the row map), so it costs no additional job.
    def jaggedMsg(sz: Any): String =
      s"lstsq: vector length $sz != probed dimension $p0 (fixed-dim contract)"
    val (ataArr, atyArr) =
      if (p <= 24) {
        // small-p fast path: the normal equations are p(p+1)/2 + p plain
        // sum() aggregates over element_at terms — fully codegen'd, fuses
        // into the scan (one partial→final agg, no Row deserialization)
        def feat(i: Int): Column =
          if (intercept && i == 0) lit(1.0)
          else element_at(col(vecCol), i + (if (intercept) 0 else 1)).cast("double")
        val y = col(yCol).cast("double")
        def s(term: Column): Column =
          if (exactIntegral) sum(term.cast("long")) else sum(term)
        val upper = for (j <- 0 until p; i <- 0 to j)
          yield s(feat(i) * feat(j)).as(s"g_${i}_$j")
        val rhs = (0 until p).map(i => s(feat(i) * y).as(s"b_$i"))
        val guards = Seq(count(lit(1)).as("__n"),
          min(size(col(vecCol))).as("__mn"), max(size(col(vecCol))).as("__mx"))
        val cols = upper ++ rhs ++ guards
        val row = clean.agg(cols.head, cols.tail: _*).first()
        val nIdx = upper.size + rhs.size
        require(row.getLong(nIdx) > 0,
          "lstsq: no rows remain after dropping null y/vector rows")
        if (row.getInt(nIdx + 1) != p0 || row.getInt(nIdx + 2) != p0)
          throw new IllegalArgumentException(
            jaggedMsg(s"[${row.getInt(nIdx + 1)}..${row.getInt(nIdx + 2)}]"))
        def v(i: Int): Double = row.get(i).asInstanceOf[Number].doubleValue()
        val ata = new Array[Double](p * p)
        var idx = 0
        for (j <- 0 until p; i <- 0 to j) {
          ata(j * p + i) = v(idx); ata(i * p + j) = v(idx)
          idx += 1
        }
        (ata, (0 until p).map(i => v(idx + i)).toArray)
      } else {
        // wide-feature path: one treeAggregate of per-row outer products
        val rows = clean
          .select(transform(col(vecCol), _.cast("double")).as("v"),
            col(yCol).cast("double").as("y"))
          .rdd.map { r =>
            val v = r.getSeq[Double](0)
            if (v.length != p0) throw new IllegalArgumentException(jaggedMsg(v.length))
            (v.toArray, r.getDouble(1))
          }
        // acc layout: [AᵀA p×p col-major | Aᵀy p | row count]
        val acc = rows.treeAggregate(new Array[Double](p * p + p + 1))(
          seqOp = { (a, row) =>
            val x = if (intercept) 1.0 +: row._1 else row._1
            var j = 0
            while (j < p) {
              val xj = x(j); var i = 0
              while (i < p) { a(j * p + i) += x(i) * xj; i += 1 }
              a(p * p + j) += xj * row._2
              j += 1
            }
            a(p * p + p) += 1.0
            a
          },
          combOp = { (a, b) =>
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
        require(acc(p * p + p) > 0,
          "lstsq: no rows remain after dropping null y/vector rows")
        (acc.take(p * p), acc.slice(p * p, p * p + p))
      }
    val ata = breeze.linalg.DenseMatrix.create(p, p, ataArr)
    val aty = breeze.linalg.DenseVector(atyArr)
    // Solve via a truncated-SVD pseudo-inverse unconditionally:
    // rank-deficient designs (constant column + intercept, collinear
    // features) make AᵀA singular, and LU "succeeds" with garbage there —
    // fp elimination leaves a ~1e-15 pivot instead of a detectable zero
    // (breeze pinv's default tolerance keeps that junk value too).
    // Singular directions below 1e-12·σmax are fp noise on AᵀA (junk sits
    // at ~eps·σmax ≈ 1e-16); dropping them yields the min-norm solution,
    // the np.linalg.lstsq contract.  SVD of p×p is driver-trivial.
    val dec = breeze.linalg.svd(ata)
    val smax = if (dec.S.length == 0) 0.0 else breeze.linalg.max(dec.S)
    val tol = smax * 1e-12
    val utb = dec.U.t * aty
    val coef = breeze.linalg.DenseVector.tabulate(p)(i =>
      if (dec.S(i) > tol) utb(i) / dec.S(i) else 0.0)
    (dec.Vt.t * coef).toArray
  }

  // ---- blocked elimination (reference `dask/array/linalg.py:978` lu,
  // `:1114` solve_triangular, `:1295` cholesky) ---------------------------

  /** Keyed block state: `((bi, bj), block)`, blocks column-major. */
  private type Blocks = RDD[((Int, Int), Array[Double])]

  /** Schema of every `(bi, bj, data)` block DataFrame in this module. */
  private val blockSchema = StructType(Seq(StructField("bi", IntegerType),
    StructField("bj", IntegerType), StructField("data", ArrayType(DoubleType))))

  /** Keyed blocks as a `(bi, bj, data)` DataFrame. */
  private def blockFrame(spark: SparkSession, blocks: Blocks): DataFrame =
    spark.createDataFrame(blocks.map { case ((bi, bj), d) => Row(bi, bj, d.toSeq) },
      blockSchema)

  /** A `(bi, bj, data)` DataFrame as keyed blocks, each checked to be b×b. */
  private def keyedBlocks(df: DataFrame, op: String, b: Int): Blocks =
    df.select(col("bi"), col("bj"), col("data")).rdd.map { r =>
      val d = r.getSeq[Double](2).toArray
      require(d.length == b * b, s"$op: block must be ${b}x$b, got ${d.length}")
      ((r.getInt(0), r.getInt(1)), d)
    }

  /** Row-major copy of a column-major `rows×cols` block. A row-major
    * `rows×cols` block is a column-major `cols×rows` one, so
    * `colToRowMajor(a, cols, rows)` converts the other way.
    */
  private def colToRowMajor(a: Array[Double], rows: Int, cols: Int): Array[Double] = {
    val out = new Array[Double](a.length)
    var c = 0
    while (c < cols) {
      var r = 0
      while (r < rows) { out(r * cols + c) = a(c * rows + r); r += 1 }
      c += 1
    }
    out
  }

  private def requireGrid(op: String, what: String, expected: Long, found: Long): Unit =
    if (found != expected) throw new IllegalArgumentException(
      s"$op: the block grid must hold $what: expected $expected blocks, found $found")

  /** Block `(i, i)`, collected to the driver (one job). */
  private def diagBlock(blocks: Blocks, i: Int, op: String): Array[Double] =
    blocks.filter(_._1 == (i, i)).map(_._2).collect().headOption.getOrElse(
      throw new IllegalArgumentException(s"$op: diagonal block ($i,$i) is missing"))

  /** The right-looking blocked elimination under [[lu]], [[cholesky]] and
    * [[solveTriangular]]: one round per pivot `i` of `rounds`, each
    *   1. `factor(i, state)` on the driver: the round's diagonal step, which
    *      collects the b×b diagonal block it needs (the only matrix data the
    *      driver sees); its result is broadcast;
    *   2. `panel` over every block in one partition-preserving map: the
    *      round's panel solve under the broadcast factor (identity off the
    *      panels);
    *   3. the trailing update `target(r, c) ← update(target, L(r), R(c))`,
    *      where L is the round's column panel keyed by block row (`lRow`)
    *      and R its row panel keyed by block column (`rCol`). L is read
    *      from the panel-solved state, or from `staticL` when it does not
    *      change between rounds (the triangular solve's T). A target is
    *      updated only when both its L and its R exist, so a block L does
    *      not reach (an absent T block, which is zero) stays as it is.
    * Panel delivery is size-gated, ScaLAPACK-style. While `panelBytes(i)`
    * fits `panelBroadcastBytes`, the panels are collected and broadcast
    * (zero shuffles per round, and the driver's traffic is bounded by the
    * constant, not by the matrix). Past it, panels never leave the
    * cluster: each L (R) block fans out executor-side to the keys
    * `lTargets` (`rTargets`) names, and one `cogroup` on a hash
    * partitioner shared by every round applies the update; the first
    * cogroup moves the state onto it (unless `prePartition` already did),
    * later rounds move only panel replicas. Both paths call the same
    * `update` on the same blocks, so they give bit-identical results.
    *
    * Lifetime: each round's state is persisted, `localCheckpoint`ed every
    * 8th round (the lineage guard of Dedup's connected-components loop)
    * and materialized BEFORE its parents are unpersisted, or dropping them
    * would force a recompute cascade. `finish` builds and materializes the
    * result from the final state before the `finally` releases it.
    */
  private def eliminate[F: ClassTag, R](state0: Blocks, nKeys: Int, prePartition: Boolean,
                              rounds: Seq[Int], panelBroadcastBytes: Long,
                              factor: (Int, Blocks) => F,
                              panel: (Int, F, (Int, Int), Array[Double]) => Array[Double],
                              panelBytes: Int => Long,
                              lRow: (Int, (Int, Int)) => Int,
                              rCol: (Int, (Int, Int)) => Int,
                              lTargets: (Int, Int) => Iterator[(Int, Int)],
                              rTargets: (Int, Int) => Iterator[(Int, Int)],
                              update: (Array[Double], Array[Double], Array[Double]) => Array[Double],
                              staticL: Option[Blocks] = None)(finish: Blocks => R): R = {
    val sc = state0.sparkContext
    val partitioner = new HashPartitioner(
      math.max(1, math.min(nKeys, sc.defaultParallelism * 2)))
    var state = if (prePartition) state0.partitionBy(partitioner) else state0
    state.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      for ((i, round) <- rounds.zipWithIndex) {
        val bcF = sc.broadcast(factor(i, state))
        val afterPanel = state.mapPartitions(_.map { case (k, d) =>
          (k, panel(i, bcF.value, k, d))
        }, preservesPartitioning = true)
        afterPanel.persist(StorageLevel.MEMORY_AND_DISK)
        val next: Blocks =
          if (round == rounds.length - 1) afterPanel
          else {
            val isL = (kd: ((Int, Int), Array[Double])) => lRow(i, kd._1) >= 0
            val isR = (kd: ((Int, Int), Array[Double])) => rCol(i, kd._1) >= 0
            val updated: Blocks =
              if (panelBytes(i) <= panelBroadcastBytes) {
                def keyed(ps: Array[((Int, Int), Array[Double])],
                          key: ((Int, Int)) => Int): Map[Int, Array[Double]] =
                  ps.iterator.map { case (k, d) => key(k) -> d }.filter(_._1 >= 0).toMap
                val (ls, rs) = staticL match {
                  case None =>
                    val ps = afterPanel.filter(kd => isL(kd) || isR(kd)).collect()
                    (ps, ps)
                  case Some(t) =>
                    (t.filter(isL).collect(), afterPanel.filter(isR).collect())
                }
                val bcP = sc.broadcast((keyed(ls, lRow(i, _)), keyed(rs, rCol(i, _))))
                afterPanel.mapPartitions(_.map { case (k, d) =>
                  val (lm, rm) = bcP.value
                  (lm.get(k._1), rm.get(k._2)) match {
                    case (Some(l), Some(r)) => (k, update(d, l, r))
                    case _ => (k, d)
                  }
                }, preservesPartitioning = true)
              } else {
                // replicas tagged true = L, false = R
                val lFan = (kd: ((Int, Int), Array[Double])) => {
                  val r = lRow(i, kd._1)
                  if (r < 0) Iterator.empty else lTargets(i, r).map(t => (t, (true, kd._2)))
                }
                val rFan = (kd: ((Int, Int), Array[Double])) => {
                  val c = rCol(i, kd._1)
                  if (c < 0) Iterator.empty else rTargets(i, c).map(t => (t, (false, kd._2)))
                }
                val replicas = staticL match {
                  case None => afterPanel.flatMap(kd => lFan(kd) ++ rFan(kd))
                  case Some(t) => t.flatMap(lFan).union(afterPanel.flatMap(rFan))
                }
                afterPanel.cogroup(replicas, partitioner).mapValues { case (base, ps) =>
                  val d = base.head
                  (ps.collectFirst { case (true, l) => l },
                    ps.collectFirst { case (false, r) => r }) match {
                    case (Some(l), Some(r)) => update(d, l, r)
                    case _ => d
                  }
                }
              }
            updated.persist(StorageLevel.MEMORY_AND_DISK)
            if ((round + 1) % 8 == 0) updated.localCheckpoint()
            updated
          }
        next.count() // materialize BEFORE dropping the parents
        state.unpersist(false)
        if (next ne afterPanel) afterPanel.unpersist(false)
        state = next
      }
      finish(state)
    } finally state.unpersist(false)
  }

  /** Result of [[lu]]: `A = P · L · U` where `P` is BLOCK-DIAGONAL
    * (per-diagonal-block partial pivoting — the reference's exact
    * contract: scipy pivots inside each diagonal block, never across
    * block rows), `L` is block-lower with unit-diagonal diagonal blocks,
    * `U` is block-upper.
    *
    * `perms(i)(k)` = the original row (within block row `i`) that pivot
    * position `k` selected, i.e. the diagonal permutation satisfies
    * `(Pᵢᵀ·x)[k] = x[perms(i)(k)]`.  `l`/`u` hold only their non-zero
    * blocks (`bi ≥ bj` / `bi ≤ bj`), as `(bi, bj, data)` rows with
    * `data` column-major `b×b`.
    */
  case class BlockLU(perms: Array[Array[Int]], l: DataFrame, u: DataFrame,
                     blockSize: Int, nBlocks: Int) {

    /** det(A) = Π sign(σᵢ) · Π diag(Uᵢᵢ) — collects only the nBlocks
      * diagonal U blocks (b² doubles each), never the matrix.
      */
    def det(): Double = {
      val b = blockSize
      val diags = u.where(col("bi") === col("bj"))
        .select(col("bi"), col("data")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      var d = 1.0
      for (i <- 0 until nBlocks) {
        d *= permSign(perms(i))
        val blk = diags(i)
        for (k <- 0 until b) d *= blk(k * b + k)
      }
      d
    }
  }

  private def permSign(p: Array[Int]): Double = {
    val seen = new Array[Boolean](p.length)
    var sign = 1.0
    for (s <- p.indices if !seen(s)) {
      var len = 0; var j = s
      while (!seen(j)) { seen(j) = true; j = p(j); len += 1 }
      if (len % 2 == 0) sign = -sign
    }
    sign
  }

  /** Blocked LU decomposition of a square block matrix — lifts the last
    * linalg descope (reference `lu`, `dask/array/linalg.py:978`).
    *
    * Input: `(bi, bj, data)` rows, `data` a column-major `b×b` block; the
    * grid must be complete (`nb×nb` blocks, square blocks — the same
    * uniform-chunk precondition the reference raises on).
    *
    * nb rounds of [[eliminate]], algebraically identical to the
    * reference's left-looking task graph (its per-block accumulated sums
    * `Σₚ lu_kp·u_pj` are what the trailing blocks carry here). Round `i`
    * factors the diagonal block with partial pivoting on the driver, then
    * finalizes the row panel `u_ij = Lᵢᵢ⁻¹·Pᵢᵀ·â_ij` (R) and the column
    * panel `raw_ki = â_ki·Uᵢᵢ⁻¹` (L); the trailing update is
    * `â_kj −= raw_ki·u_ij`. Off-diagonal L blocks are un-permuted at the
    * end (`L_ki = Pₖᵀ·raw_ki`) once every block row's pivot order is known
    * — the reference's `p_inv·lu` edges.
    */
  def lu(blocks: DataFrame, blockSize: Int,
         panelBroadcastBytes: Long = 16L << 20): BlockLU = {
    val spark = blocks.sparkSession
    val b = blockSize
    val nb = {
      val mx = blocks.agg(max(col("bi")), max(col("bj")), count(lit(1))).first()
      val n = math.max(mx.getInt(0), mx.getInt(1)) + 1
      requireGrid("lu", s"all ${n}x$n blocks", n.toLong * n, mx.getLong(2))
      n
    }
    val perms = new Array[Array[Int]](nb)
    eliminate(keyedBlocks(blocks, "lu", b), nb * nb, prePartition = false,
      0 until nb, panelBroadcastBytes,
      factor = (i, st) => {
        val f = localLu(diagBlock(st, i, "lu"), b)
        perms(i) = f._1
        f
      },
      panel = (i, f: (Array[Int], Array[Double], Array[Double]), k, d) => {
        val (sg, ld, ud) = f
        if (k._1 == i && k._2 == i) {
          // pack the diagonal factor (unit diag implicit: strict lower = L,
          // upper = U)
          val packed = ud.clone()
          for (c <- 0 until b; r <- c + 1 until b) packed(c * b + r) = ld(c * b + r)
          packed
        } else if (k._1 == i && k._2 > i) solveLowerUnit(ld, permRows(sg, d, b), b)
        else if (k._2 == i && k._1 > i) solveUpperRight(d, ud, b)
        else d
      },
      panelBytes = i => 2L * (nb - i - 1) * b * b * 8,
      lRow = (i, k) => if (k._2 == i && k._1 > i) k._1 else -1,
      rCol = (i, k) => if (k._1 == i && k._2 > i) k._2 else -1,
      lTargets = (i, r) => (i + 1 until nb).iterator.map(c => (r, c)),
      rTargets = (i, c) => (i + 1 until nb).iterator.map(r => (r, c)),
      update = (d, l, r) => matmulSub(d, l, r, b)) { state =>
      val bcPerms = spark.sparkContext.broadcast(perms)
      val lDf = blockFrame(spark, state.flatMap { case ((bi, bj), d) =>
        if (bi == bj) {
          val ld = new Array[Double](b * b)
          for (c <- 0 until b) {
            ld(c * b + c) = 1.0
            for (r <- c + 1 until b) ld(c * b + r) = d(c * b + r)
          }
          Some(((bi, bj), ld))
        } else if (bi > bj) {
          // un-permute by the row block's own pivot order: L_ki = Pₖᵀ·raw
          Some(((bi, bj), permRows(bcPerms.value(bi), d, b)))
        } else None
      }).cache()
      val uDf = blockFrame(spark, state.flatMap { case ((bi, bj), d) =>
        if (bi == bj) {
          val ud = new Array[Double](b * b)
          for (c <- 0 until b; r <- 0 to c) ud(c * b + r) = d(c * b + r)
          Some(((bi, bj), ud))
        } else if (bi < bj) Some(((bi, bj), d))
        else None
      }).cache()
      lDf.count(); uDf.count() // materialize before the block state unpersists
      BlockLU(perms, lDf, uDf, b, nb)
    }
  }

  /** Dense LU with partial pivoting of a col-major n×n block (driver-side,
    * the scipy.linalg.lu leaf): returns (σ, L unit-lower, U upper) with
    * `(Pᵀa)[k,:] = a[σ(k),:]` and `Pᵀ·a = L·U` (so `a = P·L·U`, the scipy
    * `p @ l @ u` orientation).
    */
  private[graft] def localLu(a: Array[Double], n: Int): (Array[Int], Array[Double], Array[Double]) = {
    val m = a.clone()
    val sigma = Array.tabulate(n)(identity)
    for (k <- 0 until n) {
      var p = k; var best = math.abs(m(k * n + k))
      for (r <- k + 1 until n) {
        val v = math.abs(m(k * n + r)); if (v > best) { best = v; p = r }
      }
      if (p != k) {
        for (c <- 0 until n) {
          val t = m(c * n + k); m(c * n + k) = m(c * n + p); m(c * n + p) = t
        }
        val t = sigma(k); sigma(k) = sigma(p); sigma(p) = t
      }
      val pivot = m(k * n + k)
      if (pivot != 0.0) {
        for (r <- k + 1 until n) m(k * n + r) /= pivot
        for (c <- k + 1 until n) {
          val mck = m(c * n + k)
          if (mck != 0.0) {
            for (r <- k + 1 until n) m(c * n + r) -= m(k * n + r) * mck
          }
        }
      }
    }
    val l = new Array[Double](n * n); val u = new Array[Double](n * n)
    for (c <- 0 until n) {
      l(c * n + c) = 1.0
      for (r <- c + 1 until n) l(c * n + r) = m(c * n + r)
      for (r <- 0 to c) u(c * n + r) = m(c * n + r)
    }
    (sigma, l, u)
  }

  /** Row-permute: out[k,:] = a[σ(k),:] (col-major n×n). */
  private[graft] def permRows(sigma: Array[Int], a: Array[Double], n: Int): Array[Double] = {
    val out = new Array[Double](n * n)
    for (c <- 0 until n; k <- 0 until n) out(c * n + k) = a(c * n + sigma(k))
    out
  }

  /** X = L⁻¹·B for unit-lower L (col-major n×n, forward substitution). */
  private[graft] def solveLowerUnit(l: Array[Double], bm: Array[Double], n: Int): Array[Double] = {
    val x = bm.clone()
    for (c <- 0 until n; r <- 0 until n) {
      var s = x(c * n + r)
      for (m <- 0 until r) s -= l(m * n + r) * x(c * n + m)
      x(c * n + r) = s
    }
    x
  }

  /** X = A·U⁻¹ for upper U (col-major n×n, column back-substitution). */
  private[graft] def solveUpperRight(a: Array[Double], u: Array[Double], n: Int): Array[Double] = {
    val x = a.clone()
    for (j <- 0 until n) {
      for (m <- 0 until j) {
        val umj = u(j * n + m)
        if (umj != 0.0) {
          for (r <- 0 until n) x(j * n + r) -= x(m * n + r) * umj
        }
      }
      val ujj = u(j * n + j)
      for (r <- 0 until n) x(j * n + r) /= ujj
    }
    x
  }

  /** C − A·B (col-major n×n), allocating the result. */
  private[graft] def matmulSub(cM: Array[Double], a: Array[Double], bM: Array[Double], n: Int): Array[Double] = {
    val out = cM.clone()
    for (j <- 0 until n; m <- 0 until n) {
      val bmj = bM(j * n + m)
      if (bmj != 0.0) {
        for (r <- 0 until n) out(j * n + r) -= a(m * n + r) * bmj
      }
    }
    out
  }

  // ---- GArr-level adapters (reference `dask/array/linalg.py:835` qr,
  // `:874` svd): thin bridges from the chunked 2-D array into the
  // RowMatrix tsqr/SVD machinery, returning chunked arrays again.

  /** Ordered row-vector RDD of a 2-D [[GArr]] plus the (possibly
    * column-regridded) source. dask's own tsqr contract requires the
    * second dimension in ONE chunk ("short-and-fat" columns), so a
    * multi-chunk column dimension is regridded first (one scatter
    * shuffle); rows then stream out of the axis-0 blocks in global order.
    */
  private def garrRowVectors(a: GArr): (RDD[org.apache.spark.mllib.linalg.Vector], GArr) = {
    require(a.ndim == 2, s"qr/svd take 2-D arrays: got shape ${a.shape}")
    val a1 =
      if (a.chunks(1).length == 1) a
      else a.rechunkTo(Seq(a.chunks(0), Seq(a.shape(1).toInt)))
    val nc = a1.shape(1).toInt
    val rows = a1.blocks.rdd.map(b => (b.bid(0), b.data)).sortByKey()
      .flatMap { case (_, data) =>
        val nr = data.length / nc
        Iterator.tabulate(nr)(r =>
          Vectors.dense(java.util.Arrays.copyOfRange(data, r * nc, (r + 1) * nc)))
      }
    (rows, a1)
  }

  /** Pack an ordered row-vector RDD back into a GArr with the given row
    * chunking and a single column chunk — the inverse of
    * [[garrRowVectors]].
    */
  private def packRows(spark: SparkSession,
                       rows: RDD[Array[Double]],
                       rowChunks: Seq[Int], nc: Int): GArr = {
    import spark.implicits._
    val starts = GArr.startsOf(rowChunks)
    val bcStarts = spark.sparkContext.broadcast(starts)
    val packed = rows.zipWithIndex().map { case (v, i) =>
      val st = bcStarts.value
      val b = Positions.locate(st, i)
      (b, ((i - st(b)).toInt, v))
    }.groupByKey().map { case (b, it) =>
      val st = bcStarts.value
      val nr = (st(b + 1) - st(b)).toInt
      val arr = new Array[Double](nr * nc)
      it.foreach { case (o, v) => System.arraycopy(v, 0, arr, o * nc, nc) }
      ABlock(Seq(b, 0), arr)
    }
    GArr(Seq(starts.last, nc.toLong), Seq(rowChunks, Seq(nc)),
      spark.createDataset(packed))
  }

  /** dask `qr(a)` (`array/linalg.py:835`): reduced tall-skinny QR of a
    * chunked 2-D array. Q keeps the input's row chunking (distributed,
    * same shape class as the input); R is the small k×k upper triangle
    * lifted into a single-block GArr.
    */
  def qr(a: GArr): (GArr, GArr) = {
    val (rowsV, a1) = garrRowVectors(a)
    val spark = a1.blocks.sparkSession
    val nc = a1.shape(1).toInt
    val mat = new RowMatrix(rowsV, a1.shape(0), nc)
    val qrf = mat.tallSkinnyQR(computeQ = true)
    val q = packRows(spark, qrf.Q.rows.map(_.toArray), a1.chunks(0), nc)
    val rLocal = qrf.R.toArray // column-major nc×nc
    val r = GArr.fromFunction(spark, Seq(nc.toLong, nc.toLong), Seq(nc, nc))(
      g => rLocal((g(1) * nc + g(0)).toInt))
    (q, r)
  }

  /** dask `svd(a)` (`array/linalg.py:874`): reduced SVD of a tall-skinny
    * chunked array, numpy convention `a = u · diag(s) · v` (v is Vᵀ,
    * k×n). u keeps the input's row chunking; s and v are small
    * single-block arrays. k may be below the column count on
    * rank-deficient input (mllib drops zero singular values).
    */
  def svd(a: GArr): (GArr, GArr, GArr) = {
    val (rowsV, a1) = garrRowVectors(a)
    val spark = a1.blocks.sparkSession
    val nc = a1.shape(1).toInt
    val mat = new RowMatrix(rowsV, a1.shape(0), nc)
    val dec = mat.computeSVD(nc, computeU = true)
    val k = dec.s.size
    val u = packRows(spark, dec.U.rows.map(_.toArray), a1.chunks(0), k)
    val sv = dec.s.toArray
    val sArr = GArr.fromFunction(spark, Seq(k.toLong), Seq(k))(g => sv(g(0).toInt))
    val vLocal = dec.V.toArray // column-major nc×k: V(i,j) at j*nc+i
    val v = GArr.fromFunction(spark, Seq(k.toLong, nc.toLong), Seq(k, nc))(
      g => vLocal((g(0) * nc + g(1)).toInt))
    (u, sArr, v)
  }

  /** 2-D square GArr with uniform square chunks → the `(bi, bj,
    * col-major data)` block DataFrame the blocked [[lu]] consumes
    * (narrow map, zero shuffle — only the per-block layout transposes).
    */
  def garrToBlocks(a: GArr): (DataFrame, Int) = {
    require(a.ndim == 2 && a.shape(0) == a.shape(1),
      s"lu needs a square 2-D array: ${a.shape}")
    val bs = a.chunks(0).head
    require(a.chunks(0).forall(_ == bs) && a.chunks(1).forall(_ == bs),
      s"lu needs uniform ${bs}x$bs chunks (rechunk first): ${a.chunks}")
    (blockFrame(a.blocks.sparkSession, a.blocks.rdd.map { blk =>
      ((blk.bid(0), blk.bid(1)), colToRowMajor(blk.data, bs, bs))
    }), bs)
  }

  /** dask `lu(a)` at the GArr level (reference `array/linalg.py:978`):
    * the thin bridge into the blocked partial-pivoting [[lu]].
    */
  def lu(a: GArr): BlockLU = { val (df, bs) = garrToBlocks(a); lu(df, bs) }

  /** `(bi, bj, col-major data)` block DataFrame → GArr (row-major block
    * payloads) — lifts [[BlockLU]]'s `l`/`u` factors back into chunked
    * arrays so they compose with matmul/einsum/etc.
    */
  def blocksToGArr(df: DataFrame, blockSize: Int, nBlocks: Int): GArr = {
    val spark = df.sparkSession
    import spark.implicits._
    val b = blockSize
    val ds = df.select(col("bi"), col("bj"), col("data"))
      .as[(Int, Int, Array[Double])].map { case (bi, bj, d) =>
        ABlock(Seq(bi, bj), colToRowMajor(d, b, b))
      }
    val n = b.toLong * nBlocks
    GArr(Seq(n, n), Seq(Seq.fill(nBlocks)(b), Seq.fill(nBlocks)(b)), ds)
  }

  /** dask `da.linalg.norm` (`array/linalg.py:1380`): Frobenius (also the
    * vector L2), induced 1-norm (max abs column sum), and induced
    * inf-norm (max abs row sum) — all as scalarMap + axis-reduction
    * compositions, one pass each.
    */
  def norm(a: GArr, ord: String = "fro"): Double = ord match {
    case "fro" => math.sqrt(a.scalarMap(x => x * x).sumAll)
    case "1" =>
      require(a.ndim == 2, "1-norm is for 2-D arrays")
      a.scalarMap(math.abs).sumAxis(0)
        .reduceAll(Double.NegativeInfinity)(math.max, math.max)
    case "inf" =>
      require(a.ndim == 2, "inf-norm is for 2-D arrays")
      a.scalarMap(math.abs).sumAxis(1)
        .reduceAll(Double.NegativeInfinity)(math.max, math.max)
    case other => throw new IllegalArgumentException(
      s"norm: unknown ord '$other' (fro | 1 | inf)")
  }

  /** Slice a driver-side dense col-major n×n matrix into a `(bi, bj,
    * data)` block DataFrame — the test/query-side constructor (real
    * pipelines build blocks distributed; the fixture matrices here are
    * driver-small).
    */
  def denseToBlocks(spark: SparkSession,
                    dense: Array[Double], n: Int, blockSize: Int): DataFrame = {
    require(n % blockSize == 0, s"lu: $n not divisible by block size $blockSize")
    val b = blockSize; val nb = n / b
    val blocks = for (bi <- 0 until nb; bj <- 0 until nb) yield {
      val d = new Array[Double](b * b)
      for (c <- 0 until b; r <- 0 until b)
        d(c * b + r) = dense((bj * b + c) * n + (bi * b + r))
      ((bi, bj), d)
    }
    blockFrame(spark, spark.sparkContext.parallelize(blocks, math.min(blocks.size, 32)))
  }

  /** AᵀY as one treeAggregate of per-row outer products (p×l col-major). */
  private def atB(a: RowMatrix, y: RowMatrix, l: Int): Array[Double] = {
    val p = a.numCols().toInt
    val zipped = a.rows.zip(y.rows)
    zipped.treeAggregate(new Array[Double](p * l))(
      seqOp = { (acc, rowPair) =>
        val av = rowPair._1.toArray; val yv = rowPair._2.toArray
        var j = 0
        while (j < l) {
          val yj = yv(j); var i = 0
          while (i < p) { acc(j * p + i) += av(i) * yj; i += 1 }
          j += 1
        }
        acc
      },
      combOp = { (x, z) => var i = 0; while (i < x.length) { x(i) += z(i); i += 1 }; x })
  }

  /** X · R⁻¹ for upper-triangular R (l×l), X is p×l col-major; only the
    * leading `leff` columns are solved (rank truncation).
    */
  private def solveRt(x: Array[Double], rColMajor: Array[Double],
                      p: Int, l: Int, leff: Int): Array[Double] = {
    val out = x.clone()
    // forward column sweep: col j of X·R⁻¹ = (X_j − Σ_{m<j} out_m·R(m,j)) / R(j,j)
    var j = 0
    while (j < leff) {
      var m = 0
      while (m < j) {
        val rmj = rColMajor(j * l + m)
        if (rmj != 0.0) {
          var i = 0
          while (i < p) { out(j * p + i) -= out(m * p + i) * rmj; i += 1 }
        }
        m += 1
      }
      val rjj = rColMajor(j * l + j)
      var i = 0
      while (i < p) { out(j * p + i) /= rjj; i += 1 }
      j += 1
    }
    out
  }

  // ---- blocked triangular solve / solve / inv / Cholesky ---------------
  // (reference `dask/array/linalg.py:1114` solve_triangular, `:1208`
  // solve, `:1268` inv, `:1295` cholesky), all on [[eliminate]].

  /** X = L⁻¹·RHS for lower L (col-major n×n), RHS n×cw col-major. */
  private[graft] def solveLowerLeftRect(l: Array[Double], rhs: Array[Double],
                                        n: Int, cw: Int, unit: Boolean): Array[Double] = {
    val x = rhs.clone()
    var c = 0
    while (c < cw) {
      var r = 0
      while (r < n) {
        var s = x(c * n + r)
        var m = 0
        while (m < r) { s -= l(m * n + r) * x(c * n + m); m += 1 }
        x(c * n + r) = if (unit) s else s / l(r * n + r)
        r += 1
      }
      c += 1
    }
    x
  }

  /** X = U⁻¹·RHS for upper U (col-major n×n), RHS n×cw col-major. */
  private[graft] def solveUpperLeftRect(u: Array[Double], rhs: Array[Double],
                                        n: Int, cw: Int): Array[Double] = {
    val x = rhs.clone()
    var c = 0
    while (c < cw) {
      var r = n - 1
      while (r >= 0) {
        var s = x(c * n + r)
        var m = r + 1
        while (m < n) { s -= u(m * n + r) * x(c * n + m); m += 1 }
        x(c * n + r) = s / u(r * n + r)
        r -= 1
      }
      c += 1
    }
    x
  }

  /** C(n×cw) − A(n×n)·X(n×cw), col-major, allocating. */
  private[graft] def matmulSubRect(cM: Array[Double], a: Array[Double],
                                   x: Array[Double], n: Int, cw: Int): Array[Double] = {
    val out = cM.clone()
    var j = 0
    while (j < cw) {
      var m = 0
      while (m < n) {
        val xmj = x(j * n + m)
        if (xmj != 0.0) {
          var r = 0
          while (r < n) { out(j * n + r) -= a(m * n + r) * xmj; r += 1 }
        }
        m += 1
      }
      j += 1
    }
    out
  }

  /** C − A·Bᵀ (col-major n×n), allocating — the Cholesky trailing kernel. */
  private[graft] def matmulSubNT(cM: Array[Double], a: Array[Double],
                                 bM: Array[Double], n: Int): Array[Double] = {
    val out = cM.clone()
    var j = 0
    while (j < n) {
      var m = 0
      while (m < n) {
        val bjm = bM(m * n + j) // B(j,m) = (Bᵀ)(m,j)
        if (bjm != 0.0) {
          var r = 0
          while (r < n) { out(j * n + r) -= a(m * n + r) * bjm; r += 1 }
        }
        m += 1
      }
      j += 1
    }
    out
  }

  /** Dense lower Cholesky of a col-major n×n SPD block (driver/executor
    * leaf — the `np.linalg.cholesky` of the reference's task graph).
    */
  private[graft] def localChol(a: Array[Double], n: Int): Array[Double] = {
    val l = new Array[Double](n * n)
    var c = 0
    while (c < n) {
      var s = a(c * n + c)
      var m = 0
      while (m < c) { val v = l(m * n + c); s -= v * v; m += 1 }
      require(s > 0.0, s"cholesky: matrix not positive definite (pivot $s at column $c)")
      val lcc = math.sqrt(s)
      l(c * n + c) = lcc
      var r = c + 1
      while (r < n) {
        var t = a(c * n + r)
        m = 0
        while (m < c) { t -= l(m * n + r) * l(m * n + c); m += 1 }
        l(c * n + r) = t / lcc
        r += 1
      }
      c += 1
    }
    l
  }

  /** X with X·Lᵀ = A for lower L (col-major n×n) — the Cholesky panel
    * kernel `A_ki · L_ii⁻ᵀ`.
    */
  private[graft] def solveLowerRightT(a: Array[Double], l: Array[Double], n: Int): Array[Double] = {
    val x = a.clone()
    var j = 0
    while (j < n) {
      var m = 0
      while (m < j) {
        val lmj = l(m * n + j) // L(j,m) = (Lᵀ)(m,j)
        if (lmj != 0.0) {
          var r = 0
          while (r < n) { x(j * n + r) -= x(m * n + r) * lmj; r += 1 }
        }
        m += 1
      }
      val ljj = l(j * n + j)
      var r = 0
      while (r < n) { x(j * n + r) /= ljj; r += 1 }
      j += 1
    }
    x
  }

  /** GArr with uniform row chunks `b` (any column chunking) → the keyed
    * col-major rectangular block state the triangular solver iterates on.
    * Narrow map — only the per-block layout transposes.
    */
  private def garrToRectState(bArr: GArr, b: Int): (Blocks, Array[Int]) = {
    require(bArr.ndim == 2, s"triangular solve rhs must be 2-D: ${bArr.shape}")
    require(bArr.chunks(0).forall(_ == b),
      s"rhs row chunks must equal the block size $b (rechunk first): ${bArr.chunks(0)}")
    val colChunks = bArr.chunks(1).toArray
    val st = bArr.blocks.rdd.map { blk =>
      ((blk.bid(0), blk.bid(1)), colToRowMajor(blk.data, colChunks(blk.bid(1)), b))
    }
    (st, colChunks)
  }

  /** Keyed col-major rectangular state → GArr (row-major blocks). */
  private def rectStateToGArr(spark: SparkSession, st: Blocks, b: Int, nRowBlocks: Int,
                              colChunks: Array[Int]): GArr = {
    import spark.implicits._
    val ds = st.map { case ((bi, bj), cm) =>
      ABlock(Seq(bi, bj), colToRowMajor(cm, b, colChunks(bj)))
    }.toDS()
    GArr(Seq(b.toLong * nRowBlocks, colChunks.map(_.toLong).sum),
      Seq(Seq.fill(nRowBlocks)(b), colChunks.toSeq), ds)
  }

  /** Blocked triangular solve `T·X = B` (reference `array/linalg.py:1114`
    * `solve_triangular`): T an `(bi, bj, col-major data)` b×b block
    * DataFrame (only the `lower` half is read; absent blocks are zero, but
    * every diagonal block is required), B a chunked 2-D GArr whose row
    * chunks equal `b`. nb rounds of [[eliminate]] run forward (lower) or
    * backward (upper) block substitution: round `i` solves block row `i`
    * against `Tᵢᵢ` (R, keyed by block column), and the trailing rows take
    * `B_kj −= T_ki·X_ij`, with L read from the static T. T is static, so
    * its diagonal is pre-collected in ONE job when it fits 4× the panel
    * budget (vs [[lu]], which must re-collect its mutating diagonal every
    * round).
    */
  def solveTriangular(tBlocks: DataFrame, blockSize: Int, bArr: GArr,
                      lower: Boolean, unitDiag: Boolean = false,
                      panelBroadcastBytes: Long = 16L << 20): GArr = {
    val spark = tBlocks.sparkSession
    val b = blockSize
    val nb = (bArr.shape(0) / b).toInt
    val (st0, colChunks) = garrToRectState(bArr, b)
    val mCols = colChunks.map(_.toLong).sum
    val t = keyedBlocks(tBlocks, "solveTriangular", b)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def trailing(i: Int, r: Int): Boolean = if (lower) r > i else r < i
    try {
      val preDiag: Map[Int, Array[Double]] =
        if (nb.toLong * b * b * 8 <= 4 * panelBroadcastBytes) {
          val d = t.filter { case ((x, y), _) => x == y }.collect()
            .map { case ((x, _), d) => x -> d }.toMap
          requireGrid("solveTriangular", s"every diagonal block of a ${nb}x$nb grid",
            nb, (0 until nb).count(d.contains))
          d
        } else Map.empty
      eliminate(st0, nb * colChunks.length, prePartition = true,
        rounds = if (lower) 0 until nb else (nb - 1) to 0 by -1,
        panelBroadcastBytes = panelBroadcastBytes,
        factor = (i, _) => preDiag.getOrElse(i, diagBlock(t, i, "solveTriangular")),
        panel = (i, diag: Array[Double], k, d) =>
          if (k._1 != i) d
          else if (lower) solveLowerLeftRect(diag, d, b, d.length / b, unitDiag)
          else solveUpperLeftRect(diag, d, b, d.length / b),
        panelBytes = i => ((if (lower) nb - i - 1 else i).toLong * b * b + b * mCols) * 8,
        lRow = (i, k) => if (k._2 == i && trailing(i, k._1)) k._1 else -1,
        rCol = (i, k) => if (k._1 == i) k._2 else -1,
        lTargets = (_, r) => colChunks.indices.iterator.map(c => (r, c)),
        rTargets = (i, c) => (if (lower) i + 1 until nb else 0 until i).iterator.map(r => (r, c)),
        update = (d, l, r) => matmulSubRect(d, l, r, b, d.length / b),
        staticL = Some(t)) { state =>
        val out = rectStateToGArr(spark, state, b, nb, colChunks).persist()
        out.blocks.count() // materialize before the block state unpersists
        out
      }
    } finally t.unpersist(false)
  }

  /** GArr-level `solve_triangular(t, b)` — square-chunk T bridge. */
  def solveTriangular(t: GArr, bArr: GArr, lower: Boolean): GArr = {
    val (df, bs) = garrToBlocks(t)
    solveTriangular(df, bs, bArr, lower)
  }

  /** dask `solve(a, b)` (reference `array/linalg.py:1208`): blocked LU
    * with block-diagonal pivoting, then two distributed triangular
    * solves — `X = U⁻¹·(L⁻¹·(Pᵀ·B))`. The row permutation is per block
    * row (each block row carries its own pivot order σᵢ), so `Pᵀ·B` is a
    * pure narrow map over B's row blocks.
    */
  def solve(a: GArr, bArr: GArr,
            panelBroadcastBytes: Long = 16L << 20): GArr = {
    val (df, bs) = garrToBlocks(a)
    val f = lu(df, bs, panelBroadcastBytes)
    require(bArr.ndim == 2 && bArr.chunks(0).forall(_ == bs),
      s"solve: rhs row chunks must equal the LU block size $bs: ${bArr.chunks}")
    val sc = a.blocks.sparkSession.sparkContext
    val bcPerms = sc.broadcast(f.perms)
    val spark = a.blocks.sparkSession
    import spark.implicits._
    val pB = GArr(bArr.shape, bArr.chunks, bArr.blocks.map { blk =>
      val sigma = bcPerms.value(blk.bid(0))
      val nc = blk.data.length / bs
      val out = new Array[Double](blk.data.length)
      var r = 0
      while (r < bs) {
        System.arraycopy(blk.data, sigma(r) * nc, out, r * nc, nc)
        r += 1
      }
      ABlock(blk.bid, out)
    })
    val y = solveTriangular(f.l, bs, pB, lower = true, unitDiag = true,
      panelBroadcastBytes = panelBroadcastBytes)
    val x = solveTriangular(f.u, bs, y, lower = false,
      panelBroadcastBytes = panelBroadcastBytes)
    f.l.unpersist(); f.u.unpersist(); y.unpersist()
    x
  }

  /** dask `inv(a)` (reference `array/linalg.py:1268`): `solve(a, I)` with
    * a distributed identity right-hand side on a's chunk grid.
    */
  def inv(a: GArr, panelBroadcastBytes: Long = 16L << 20): GArr = {
    require(a.ndim == 2 && a.shape(0) == a.shape(1), s"inv needs square: ${a.shape}")
    val bs = a.chunks(0).head
    val ident = GArr.eye(a.blocks.sparkSession, a.shape(0), bs)
    solve(a, ident, panelBroadcastBytes)
  }

  /** Blocked lower Cholesky `A = L·Lᵀ` (reference `array/linalg.py:1295`):
    * nb rounds of [[eliminate]] over the lower-half block state. Round `i`
    * factors the diagonal block on the driver, right-solves the column
    * panel `L_ki = A_ki·L_ii⁻ᵀ`, and the panel serves as both L and R of
    * the symmetric trailing update `A_kj −= L_ki·L_jiᵀ`. Only the lower
    * half is stored or touched (half of [[lu]]'s traffic); the strict
    * upper half of the input is never read, but every lower-half block
    * must be present. Returns the lower-factor block DataFrame (bi ≥ bj
    * blocks only).
    */
  def cholesky(aBlocks: DataFrame, blockSize: Int,
               panelBroadcastBytes: Long = 16L << 20): DataFrame = {
    val spark = aBlocks.sparkSession
    val b = blockSize
    val lowerHalf = col("bi") >= col("bj")
    val nb = {
      val mx = aBlocks.agg(max(col("bi")), max(col("bj")), count(when(lowerHalf, 1))).first()
      val n = math.max(mx.getInt(0), mx.getInt(1)) + 1
      requireGrid("cholesky", s"the lower half of a ${n}x$n grid",
        n.toLong * (n + 1) / 2, mx.getLong(2))
      n
    }
    val panelRow = (i: Int, k: (Int, Int)) => if (k._2 == i && k._1 > i) k._1 else -1
    eliminate(keyedBlocks(aBlocks.where(lowerHalf), "cholesky", b), nb * (nb + 1) / 2,
      prePartition = true, rounds = 0 until nb, panelBroadcastBytes = panelBroadcastBytes,
      factor = (i, st) => localChol(diagBlock(st, i, "cholesky"), b),
      panel = (i, lii: Array[Double], k, d) =>
        if (k._2 != i) d
        else if (k._1 == i) lii
        else solveLowerRightT(d, lii, b),
      panelBytes = i => (nb - i - 1).toLong * b * b * 8,
      // panel block (p, i) is L for the trailing keys (p, j), i < j ≤ p,
      // and R for the keys (k, p), p ≤ k < nb
      lRow = panelRow, rCol = panelRow,
      lTargets = (i, r) => (i + 1 to r).iterator.map(c => (r, c)),
      rTargets = (_, c) => (c until nb).iterator.map(r => (r, c)),
      update = (d, l, r) => matmulSubNT(d, l, r, b)) { state =>
      // localChol leaves the diagonal blocks' strict upper half zero
      val df = blockFrame(spark, state).cache()
      df.count() // materialize before the block state unpersists
      df
    }
  }

  /** GArr-level `cholesky(a)` — returns the FULL lower-triangular chunked
    * array (explicit zero blocks above the diagonal, so it composes with
    * matmul/norm like any other GArr).
    */
  def cholesky(a: GArr): GArr = {
    val (df, bs) = garrToBlocks(a)
    val nb = (a.shape(0) / bs).toInt
    val factor = cholesky(df, bs)
    val spark = a.blocks.sparkSession
    import spark.implicits._
    val zeros = spark.range(nb.toLong * nb).map { flat: java.lang.Long =>
      val bi = (flat.longValue / nb).toInt; val bj = (flat.longValue % nb).toInt
      ABlock(Seq(bi, bj), new Array[Double](bs * bs))
    }.filter(blk => blk.bid(0) < blk.bid(1))
    // the returned array owns its cache: materialize it, then release the
    // factor frame it was built from
    val blocks = blocksToGArr(factor, bs, nb).blocks.union(zeros)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try blocks.count() finally factor.unpersist()
    GArr(a.shape, a.chunks, blocks)
  }
}
