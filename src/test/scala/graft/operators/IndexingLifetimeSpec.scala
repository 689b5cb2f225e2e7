package graft.operators

/** Jobs and cache lifetime of GArr's distributed-index family (`takeArr`,
  * `vindex`, `compressArr`, `booleanMask` and `maskedAssign`, on the
  * gather co-group and the mask ranking): each call, followed by one
  * count of its returned blocks, starts a pinned number of Spark jobs on
  * every branch, and leaves no persisted RDD behind once its returned
  * blocks are released.
  */
class IndexingLifetimeSpec extends CallLifetime {

  private def check(name: String, want: Int)(body: => GArr): Unit = {
    val (jobs, left) = measure { val r = body; r.blocks.count(); r }(_.blocks.unpersist(true))
    assert(jobs == want, s"$name: jobs per call")
    assert(left.isEmpty, s"$name left persisted: $left")
  }

  private val f2: Array[Long] => Double = g => 1.0 + 7.0 * g(0) + 13.0 * g(1)
  private def base(rows: Long, cols: Long, cr: Int, cc: Int): GArr =
    GArr.fromFunction(spark, Seq(rows, cols), Seq(cr, cc))(f2)

  test("takeArr: pinned jobs per call, nothing left persisted") {
    val idx = GArr.fromFunction(spark, Seq(5L), Seq(2))(g => Seq(8.0, 8.0, 1.0, 5.0, 0.0)(g(0).toInt))
    check("takeArr axis 0", 4)(base(9, 4, 4, 2).takeArr(idx))
    check("takeArr axis 1 salt 3", 4)(base(4, 9, 2, 4).takeArr(idx, axis = 1, salt = 3))
  }

  test("vindex: pinned jobs per call at salt 1 and 2, nothing left persisted") {
    val a = base(7, 8, 3, 4)
    val arrs = Map(0 -> (Seq(4L), Array(0L, 1L, 6L, 0L)), 1 -> (Seq(4L), Array(0L, 1L, 0L, 7L)))
    check("vindex salt 1", 4)(a.vindex(arrs))
    check("vindex salt 2", 4)(a.vindex(arrs, salt = 2))
    val bcast = Map(0 -> (Seq(3L, 1L), Array(1L, 4L, 6L)), 1 -> (Seq(4L), Array(0L, 6L, 2L, 5L)))
    check("vindex broadcast subspace", 5)(a.vindex(bcast, targetChunk = 5))
  }

  test("compressArr: pinned jobs per call, aligned and regridded mask") {
    val a = base(6, 9, 2, 2)
    val aligned = GArr.fromFunction(spark, Seq(9L), Seq(2))(g => if (g(0) % 3 != 1) 1.0 else 0.0)
    val regrid = GArr.fromFunction(spark, Seq(9L), Seq(4))(g => if (g(0) % 3 != 1) 1.0 else 0.0)
    check("compressArr aligned", 8)(a.compressArr(aligned, axis = 1))
    check("compressArr regrid", 9)(a.compressArr(regrid, axis = 1))
  }

  private def maskOf(a: GArr): GArr = a.mapBlocks((_, d) => d.map(v => if (v % 3.0 == 0.0) 1.0 else 0.0))

  test("booleanMask: pinned jobs per call on the counts-prefix and the sort branch") {
    val rowChunked = base(8, 5, 2, 5)
    check("booleanMask counts-prefix", 7)(rowChunked.booleanMask(maskOf(rowChunked), targetChunk = 4))
    val grid = base(6, 5, 2, 2)
    check("booleanMask sort", 8)(grid.booleanMask(maskOf(grid), targetChunk = 4))
  }

  test("maskedAssign: pinned jobs per call on the counts-prefix and the sort branch") {
    val rowChunked = base(8, 5, 2, 5)
    val k1 = (for (i <- 0L until 8L; j <- 0L until 5L) yield f2(Array(i, j))).count(_ % 3.0 == 0.0)
    val v1 = GArr.fromFunction(spark, Seq(k1.toLong), Seq(3))(g => 700.0 + g(0))
    check("maskedAssign counts-prefix", 8)(rowChunked.maskedAssign(maskOf(rowChunked), v1))
    val grid = base(6, 7, 2, 3)
    val k2 = (for (i <- 0L until 6L; j <- 0L until 7L) yield f2(Array(i, j))).count(_ % 3.0 == 0.0)
    val v2 = GArr.fromFunction(spark, Seq(k2.toLong), Seq(3))(g => 900.0 + g(0))
    check("maskedAssign sort", 9)(grid.maskedAssign(maskOf(grid), v2))
  }
}
