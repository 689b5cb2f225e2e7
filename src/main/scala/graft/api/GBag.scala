package graft.api

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Bag-parity functional API (reference `dask/bag/core.py:455`):
  * unordered partitioned collections with a free-form functional surface
  * — map/filter/fold/foldby/frequencies/topk/distinct/join/product.
  *
  * Spark-first: `Dataset[T]` is the typed equivalent (encoder-backed,
  * Tungsten-serialized); fold/foldby compile to `reduceGroups`-style
  * partial aggregation, so the reference's `split_every` combine trees
  * (`bag/core.py:867,1236`) are Spark's map-side combine for free.
  */
final class GBag[T](val ds: Dataset[T]) extends Serializable {

  def spark: SparkSession = ds.sparkSession

  def map[U: Encoder](f: T => U): GBag[U] = new GBag(ds.map(f))
  def filter(p: T => Boolean): GBag[T] = new GBag(ds.filter(p))
  def flatMap[U: Encoder](f: T => IterableOnce[U]): GBag[U] = new GBag(ds.flatMap(f))
  def mapPartitions[U: Encoder](f: Iterator[T] => Iterator[U]): GBag[U] =
    new GBag(ds.mapPartitions(f))

  /** bag `fold(binop)` — tree-reduced on executors (`bag/core.py:867`). */
  def fold(binop: (T, T) => T): T = ds.reduce(binop)

  /** bag `foldby(key, binop, initial, combine)` (`bag/core.py:1236`):
    * per-key fold with true partial aggregation — each partition folds its
    * rows locally (`seq`), only the per-partition partials shuffle, and
    * `comb` merges them per key. This IS the reference's ACA pattern; a
    * plain groupByKey would shuffle every raw row.
    */
  /** dask `Bag.foldby` (`bag/core.py:1236`).  `initial` is shared across
    * every key in a partition and `seq`/`comb` may run in any grouping —
    * like Spark's own `aggregateByKey` zero value, `initial` must be
    * IMMUTABLE and `seq` must return a fresh value rather than mutating
    * its accumulator in place (a mutable shared zero would merge all
    * keys' state into one object).
    */
  def foldby[K: Encoder, B: Encoder](key: T => K, initial: B)(seq: (B, T) => B)(
      comb: (B, B) => B)(implicit kb: Encoder[(K, B)]): Dataset[(K, B)] = {
    val partials: Dataset[(K, B)] = ds.mapPartitions { it =>
      val acc = scala.collection.mutable.Map[K, B]()
      it.foreach { t =>
        val k = key(t)
        acc(k) = seq(acc.getOrElse(k, initial), t)
      }
      acc.iterator
    }
    partials.groupByKey(_._1).mapGroups { (k, it) =>
      (k, it.map(_._2).reduce(comb))
    }
  }

  /** bag `accumulate(binop, initial)` (`bag/core.py:1465`, tlz semantics):
    * the running fold over elements in partition order — same length as
    * the bag, or length+1 with `initial` prepended. A
    * [[graft.operators.PrefixScan]]: a partition's summary is its own fold
    * (None when empty), and the carry is `Sequential`, a left fold from
    * `initial` in partition order. `binop` must be associative; `initial`
    * need not be its identity.
    */
  def accumulate(binop: (T, T) => T, initial: Option[T] = None)(
      implicit e: Encoder[T], ct: scala.reflect.ClassTag[T]): GBag[T] = {
    import graft.operators.PrefixScan
    val step: (Option[T], T) => Option[T] = (acc, t) => Some(acc.fold(t)(binop(_, t)))
    val fold = PrefixScan.Fold[T, Option[T]](_.foldLeft(None: Option[T])(step), () => initial,
      (a, b) => b.flatMap(step(a, _)).orElse(a))
    val scanned = spark.createDataset(PrefixScan(ds.rdd, PrefixScan.Sequential, fold) { (seed, it) =>
      var acc = seed
      it.map { t => acc = step(acc, t); acc.get }
    })
    new GBag(initial match {
      case Some(i0) => spark.createDataset(Seq(i0)).union(scanned)
      case None => scanned
    })
  }

  /** bag `frequencies` (`bag/core.py:934`). */
  def frequencies(implicit e: Encoder[(T, Long)], ek: Encoder[T]): Dataset[(T, Long)] =
    ds.groupByKey(identity[T] _).count()

  /** bag `topk(k)(ordering)` (`bag/core.py:953`): per-partition top-k
    * (`takeOrdered` runs a bounded heap per partition, then merges
    * npartitions·k candidates on the driver).
    */
  def topk(k: Int)(implicit ord: Ordering[T]): Seq[T] =
    ds.rdd.takeOrdered(k)(ord.reverse).toSeq

  def distinct(): GBag[T] = new GBag(ds.distinct())

  /** bag `groupby(key)` (`bag/core.py:1354`): (key, all elements with that
    * key) pairs — dask's full-shuffle grouping. Prefer [[foldby]] when an
    * aggregate suffices (same advice as the reference's docstring): groupby
    * materializes each group as one in-memory Seq, so a skewed key bounds a
    * single task's memory, exactly like the reference.
    */
  def groupby[K: Encoder](key: T => K)(
      implicit kv: Encoder[(K, Seq[T])]): Dataset[(K, Seq[T])] =
    ds.groupByKey(key).mapGroups((k, it) => (k, it.toSeq))

  /** bag `zip(other)` (`bag/core.py` zip): pairwise zip of co-partitioned
    * bags — same npartitions and per-partition lengths required, as the
    * reference requires equal partitioning.
    */
  def zipBag[U](other: GBag[U])(implicit e: Encoder[(T, U)],
                                ct: scala.reflect.ClassTag[T],
                                cu: scala.reflect.ClassTag[U]): GBag[(T, U)] =
    new GBag(spark.createDataset(ds.rdd.zip(other.ds.rdd)))

  /** bag `unzip` for pair bags: two bags sharing one upstream. */
  def unzip[A, B](implicit ev: T <:< (A, B), ea: Encoder[A], eb: Encoder[B])
      : (GBag[A], GBag[B]) =
    (new GBag(ds.map(t => ev(t)._1)), new GBag(ds.map(t => ev(t)._2)))

  /** bag `product` (`bag/core.py:1219`) — cartesian. */
  def product[U](other: GBag[U])(implicit e: Encoder[(T, U)]): Dataset[(T, U)] =
    ds.joinWith(other.ds, org.apache.spark.sql.functions.lit(true), "cross")

  /** bag `join(other, key)` — equi-join by derived key. */
  def joinBy[U, K](other: GBag[U], kl: T => K, kr: U => K)(
      implicit ek: Encoder[K], et: Encoder[(K, T)], eu: Encoder[(K, U)],
      out: Encoder[(T, U)]): Dataset[(T, U)] = {
    val l = ds.map(t => (kl(t), t))
    val r = other.ds.map(u => (kr(u), u))
    l.joinWith(r, l("_1") === r("_1"), "inner").map { case ((_, t), (_, u)) => (t, u) }
  }

  def toDF(cols: String*): org.apache.spark.sql.DataFrame =
    if (cols.isEmpty) ds.toDF() else ds.toDF(cols: _*)
  def compute(): Array[T] = ds.collect()

  /** dask `Bag.to_textfiles` (`bag/core.py:818`): one text file per
    * partition, elements stringified line-per-element.
    */
  def toTextfiles(path: String): Unit =
    ds.map(x => String.valueOf(x))(org.apache.spark.sql.Encoders.STRING)
      .toDF("value").write.mode("overwrite").text(path)

  /** bag `take(k)` (`bag/core.py:1420`) — first k elements; like the
    * reference, reads as few partitions as satisfy k.
    */
  def take(k: Int): Seq[T] = ds.head(k).toSeq

  /** bag `remove(predicate)` (`bag/core.py:709`) — filter-out. */
  def remove(p: T => Boolean): GBag[T] = new GBag(ds.filter((t: T) => !p(t)))

  /** bag `flatten` (`bag/core.py:1474`) — concat one nesting level. */
  def flatten[U: Encoder](implicit ev: T => IterableOnce[U]): GBag[U] =
    new GBag(ds.flatMap(t => ev(t)))

  /** bag `random_sample(prob, random_state)` (`bag/core.py:674`):
    * Bernoulli per element, deterministic for a given seed AND layout
    * (the reference's contract is the same — its per-partition Random
    * streams change if the bag repartitions).
    */
  def randomSample(prob: Double, seed: Long)(
      implicit e: Encoder[T], ct: scala.reflect.ClassTag[T]): GBag[T] = {
    require(prob >= 0 && prob <= 1, s"prob must be in [0, 1]: $prob")
    val p = prob; val s0 = seed
    val sampled = ds.rdd.mapPartitionsWithIndex { (pi, it) =>
      val rng = new java.util.Random(s0 * 1099511628211L + pi) // per-partition substream
      it.filter(_ => rng.nextDouble() < p)
    }
    new GBag(spark.createDataset(sampled))
  }

  /** Layout-independent exact-k sampling (brief extension; contrast with
    * [[sample]]'s positional dask contract, which is deterministic only
    * per (seed, layout)): every element is ranked by a portable 64-bit
    * content hash of `keyOf(t)` salted with `seed`, and the k smallest
    * ranks win — the SAME elements under any partitioning or layout, the
    * property that makes a sample oracle-checkable (the GDF.hashSampleBy
    * lesson applied to bags). One TakeOrderedAndProject (per-partition
    * partial top-k, driver merges only k rows), no shuffle, fully
    * distributed. Ties (a shared key or a 64-bit collision) break on the
    * key string; keys should be unique per element for an exact-k draw.
    */
  def sampleByContent(k: Int, seed: Long)(keyOf: T => String)(
      implicit e: Encoder[T]): GBag[T] = {
    require(k >= 0, "Cannot take a negative number of samples")
    if (k == 0) return new GBag(ds.limit(0))
    implicit val te: Encoder[(Long, String, T)] = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING, e)
    val s0 = seed
    val ranked = ds.map { t =>
      val key = keyOf(t)
      (graft.functions.Hashing.hashString(s"$s0|$key"), key, t)
    }
    new GBag(ranked
      .orderBy(org.apache.spark.sql.functions.col("_1"),
        org.apache.spark.sql.functions.col("_2"))
      .limit(k).map(_._3))
  }

  /** dask `bag.random.sample(population, k)` (`bag/random.py:12`):
    * exactly k UNIQUE elements chosen uniformly without replacement.
    * Re-expressed Spark-first as POSITION sampling instead of the
    * reference's merged per-partition reservoirs, on
    * [[graft.operators.Positions]]: pass 1 counts each partition, the
    * driver draws a uniform k-subset of [0, n) with Floyd's algorithm
    * (O(k) state, no rejection loop, unbiased), and pass 2 is one narrow
    * positional gather — no shuffle at any scale. Deterministic
    * for a given seed AND layout (the [[randomSample]] contract). Throws
    * if k exceeds the population (reference `_finalize_sample`).
    */
  def sample(k: Int, seed: Long)(
      implicit e: Encoder[T], ct: scala.reflect.ClassTag[T]): GBag[T] = {
    require(k >= 0, "Cannot take a negative number of samples")
    if (k == 0) return new GBag(ds.limit(0))
    // persisted across the two passes: a nondeterministic upstream (e.g. a
    // shuffle) could otherwise reorder elements between the counts pass and
    // the gather pass, silently biasing the sample
    val rdd0 = ds.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val starts = graft.operators.Positions.starts(rdd0)
    val n = starts.last
    if (k > n) {
      rdd0.unpersist(blocking = false)
      throw new IllegalArgumentException("Sample larger than population")
    }
    // Floyd's uniform k-subset of [0, n)
    val rng = new java.util.Random(seed)
    val chosen = scala.collection.mutable.HashSet[Long]()
    var j = n - k
    while (j < n) {
      val t = math.floorMod(rng.nextLong(), j + 1)
      if (!chosen.add(t)) chosen.add(j): Unit
      j += 1
    }
    gatherPositions(rdd0, starts, chosen.toSeq.map((_, 1)))
  }

  /** dask `bag.random.choices(population, k)` (`bag/random.py:40`):
    * k elements chosen uniformly WITH replacement — k independent
    * position draws on the driver (O(k) state), then the same narrow
    * positional gather as [[sample]], emitting an element once per time
    * its position was drawn.
    */
  def choices(k: Int, seed: Long)(
      implicit e: Encoder[T], ct: scala.reflect.ClassTag[T]): GBag[T] = {
    require(k >= 0, "Cannot take a negative number of samples")
    if (k == 0) return new GBag(ds.limit(0))
    val rdd0 = ds.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val starts = graft.operators.Positions.starts(rdd0)
    val n = starts.last
    if (n == 0) {
      rdd0.unpersist(blocking = false)
      throw new IllegalArgumentException("choices of an empty bag")
    }
    val rng = new java.util.Random(seed)
    val wanted = Array.fill(k)(math.floorMod(rng.nextLong(), n))
      .groupBy(identity).map { case (p, a) => (p, a.length) }.toSeq
    gatherPositions(rdd0, starts, wanted)
  }

  /** Emit the elements at the given global positions (with multiplicity)
    * through [[graft.operators.Positions.gather]], whose per-split drift
    * check fails the job if the source changed since it was counted.
    */
  private def gatherPositions(rdd: org.apache.spark.rdd.RDD[T], starts: Array[Long],
                              wanted: Seq[(Long, Int)])(
      implicit e: Encoder[T], ct: scala.reflect.ClassTag[T]): GBag[T] = {
    val picked = graft.operators.Positions.gather(rdd, starts, wanted)(identity[T]).values
    // materialize the k-element result (cheap: O(k) distributed) while the
    // persisted base is still pinned; the returned bag owns this cache, so
    // its `ds.unpersist()` frees it
    val got = spark.createDataset(picked).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try got.count() finally rdd.unpersist(blocking = false)
    new GBag(got)
  }

  /** The scalar reduction tier (`bag/core.py:1077-1147`): count / sum /
    * min / max / any / all / mean / var / std. sum/mean/var ship one
    * (count, sum, sumsq) triple per partition — the reference's
    * split_every combine tree is Spark's tree aggregation.
    */
  def count(): Long = ds.count()
  def sum()(implicit num: Numeric[T]): T = ds.reduce((a, b) => num.plus(a, b))
  def min()(implicit ord: Ordering[T]): T = ds.reduce((a, b) => ord.min(a, b))
  def max()(implicit ord: Ordering[T]): T = ds.reduce((a, b) => ord.max(a, b))
  def any(p: T => Boolean): Boolean = !ds.filter(p).isEmpty
  def all(p: T => Boolean): Boolean = ds.filter((t: T) => !p(t)).isEmpty

  private def moments()(implicit num: Numeric[T]): (Long, Double, Double) =
    ds.rdd.mapPartitions { it =>
      var n = 0L; var s = 0.0; var ss = 0.0
      it.foreach { t => val x = num.toDouble(t); n += 1; s += x; ss += x * x }
      Iterator.single((n, s, ss))
    }.reduce { case ((n1, s1, q1), (n2, s2, q2)) => (n1 + n2, s1 + s2, q1 + q2) }

  /** bag `mean` (`bag/core.py:1125`). */
  def mean()(implicit num: Numeric[T]): Double = {
    val (n, s, _) = moments(); s / n
  }

  /** bag `var(ddof)` (`bag/core.py:1141`) — population variance at
    * ddof=0, matching the reference default.
    */
  def variance(ddof: Int = 0)(implicit num: Numeric[T]): Double = {
    val (n, s, ss) = moments()
    (ss - s * s / n) / (n - ddof)
  }

  def std(ddof: Int = 0)(implicit num: Numeric[T]): Double =
    math.sqrt(variance(ddof))
}

object GBag {
  def apply[T](ds: Dataset[T]): GBag[T] = new GBag(ds)
  def fromSeq[T: Encoder](spark: SparkSession, xs: Seq[T], npartitions: Int = 4): GBag[T] =
    new GBag(spark.createDataset(xs).repartition(npartitions))

  /** `db.range(n, npartitions)` — distributed long range. */
  def range(spark: SparkSession, n: Long, npartitions: Int = 4): GBag[Long] = {
    import spark.implicits._
    new GBag(spark.range(0, n, 1, npartitions).as[Long])
  }

  /** `db.concat(bags)` — one bag over every input's partitions (union). */
  def concat[T](bags: Seq[GBag[T]]): GBag[T] = {
    require(bags.nonEmpty, "concat of nothing")
    new GBag(bags.map(_.ds).reduce(_ union _))
  }
}
