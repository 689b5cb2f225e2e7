package graft

import graft.SparkTestBase
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}

/** Plan-shape drift guards: the scale-critical plan properties PLANS.md
  * claims are asserted here against the ACTUAL physical plans at fixture
  * scale, so a regression (a filter that stops pushing down, a narrow op
  * that grows an exchange, a broadcast that degrades to shuffle) fails
  * `sbt test` instead of surviving until the next manual plan audit.
  *
  * Assertions target the initial physical plan (pre-AQE): AQE can only
  * REMOVE/downgrade exchanges at runtime, so upper bounds checked here
  * hold a fortiori, and node-presence checks (pushed filters, partial
  * aggregates, broadcast) are decided before adaptive re-planning.
  */
class PlanGuardSpec extends SparkTestBase {

  /** Fixture root: overridable (system property, then env var) so the
    * suite runs on machines without the driver's /root/testdata layout;
    * query-backed tests self-cancel when the directory is absent.
    */
  private val sfDir = sys.props.get("graft.testdata.sf")
    .orElse(sys.env.get("GRAFT_TESTDATA_SF"))
    .getOrElse("/root/testdata/sf0.001")

  private def requireFixtures(): Unit =
    assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir absent")

  /** Plans are inspected with AQE off: the classic planner's exchange
    * structure is the upper bound (AQE only removes/downgrades exchanges
    * at runtime), and it is deterministic to assert against.
    */
  private def plan(name: String): SparkPlan = {
    requireFixtures()
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(collectAll)) ++ p.subqueries.flatMap(collectAll)

  private def shuffles(p: SparkPlan): Int =
    collectAll(p).count(_.isInstanceOf[ShuffleExchangeExec])

  test("q148 stratified sampling: ZERO exchanges (pure narrow scan+filter)") {
    val p = plan("q148_stratified_sample")
    assert(collectAll(p).count(_.isInstanceOf[Exchange]) == 0,
      s"q148 grew an exchange:\n$p")
  }

  test("q02 filter/project: zero shuffles, filters pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(shuffles(p) == 0, s"q02 grew a shuffle:\n$p")
    val scans = collectAll(p).filter(_.nodeName.toLowerCase.contains("scan"))
    assert(scans.nonEmpty)
    assert(scans.exists(_.toString.contains("PushedFilters: [")),
      s"q02 scan lost its pushed filters:\n${scans.head}")
  }

  test("q01 agg: partial->final HashAggregate around exactly one shuffle") {
    val p = plan("q01_agg")
    val aggs = collectAll(p).filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.size >= 2, s"q01 lost map-side combine:\n$p")
    assert(shuffles(p) == 1, s"q01 shuffle count changed:\n$p")
  }

  test("q04 broadcast join: dimension side broadcasts, never shuffles") {
    val p = plan("q04_broadcast_join")
    assert(collectAll(p).exists(n => n.isInstanceOf[BroadcastExchangeExec] ||
      n.nodeName.contains("BroadcastHashJoin")),
      s"q04 broadcast degraded to shuffle join:\n$p")
  }

  test("q03 top-k: TakeOrderedAndProject, not a global sort") {
    val p = plan("q03_join")
    assert(collectAll(p).exists(_.nodeName.contains("TakeOrdered")),
      s"q03 lost its top-k plan:\n$p")
  }

  test("q151 block matmul: no global sort in the visible plan") {
    // the top-k input reduction itself lives inside fromColumn's RDD
    // lineage (a separate query execution); what this plan must never
    // contain is a whole-table global sort — only the local per-group
    // sorts EnsureRequirements adds before MapGroups
    val p = plan("q151_block_matmul")
    val globalSorts = collectAll(p).filter(n =>
      n.nodeName == "Sort" && !n.toString.contains("false, 0"))
    assert(globalSorts.isEmpty,
      s"q151 reintroduced a global sort:\n${globalSorts.headOption}")
  }

  private def noAqePlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("GArr.where: the 3-way blockwise zip costs exactly ONE shuffle") {
    import graft.operators.GArr
    val a = GArr.fromFunction(spark, Seq(40L, 30L), Seq(16, 16))(g => g(0) * 31.0 + g(1))
    val c = GArr.fromFunction(spark, Seq(40L, 30L), Seq(16, 16))(g => (g(0) + g(1)) % 2)
    val b = GArr.zeros(spark, Seq(40L, 30L), Seq(16, 16))
    val p = noAqePlan(a.where(c, b).blockSums)
    // inputs are narrow fromFunction maps; the zip's union+groupByKey is
    // the only exchange in the whole chain
    assert(shuffles(p) == 1, s"where grew beyond one exchange:\n$p")
  }

  test("GArr.take: ONE exchange, pieces coalesced per (src,dst) block pair") {
    import graft.operators.GArr
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 10 source blocks; 100 gathered positions spread over ALL of them,
      // landing in ONE output block. Uncoalesced fancy-take would ship
      // 100 one-element pieces; the local merge must ship <= 10 (one per
      // (src,dst) block pair).
      val a = GArr.fromFunction(spark, Seq(1000L), Seq(100))(g => g(0) * 2.0)
      val idx = (0 until 100).map(i => (i.toLong * 97) % 1000)
      val df = a.take(idx).blockSums
      assert(shuffles(noAqePlan(df)) == 1,
        s"take grew beyond one exchange:\n${noAqePlan(df)}")
      df.collect()
      val written = collectAll(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
        .flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value))
      assert(written.nonEmpty && written.forall(_ <= 10),
        s"take shipped uncoalesced per-element pieces: records=$written (100 = no coalescing)")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("GArr.updatedSlice scalar: pure narrow map, ZERO exchanges") {
    import graft.operators.GArr
    val a = GArr.fromFunction(spark, Seq(40L, 30L), Seq(16, 16))(g => g(0) * 31.0 + g(1))
    val p = noAqePlan(a.updatedSlice(Seq((3L, 35L, 4L), (0L, 30L, 3L)), -1.0).blockSums)
    assert(collectAll(p).count(_.isInstanceOf[Exchange]) == 0,
      s"scalar setitem must stay narrow:\n$p")
  }

  test("GArr.takeArr: distributed index costs exactly TWO exchanges") {
    import graft.operators.GArr
    val a = GArr.fromFunction(spark, Seq(500L), Seq(64))(g => g(0) + 0.5)
    val idx = GArr.fromFunction(spark, Seq(80L), Seq(16))(g => ((g(0) * 13 + 7) % 500).toDouble)
    val p = noAqePlan(a.takeArr(idx).blockSums)
    // exchange 1: requests+blocks co-group; exchange 2: scatter assemble
    assert(shuffles(p) == 2, s"takeArr exchange count changed:\n$p")
  }

  /** Shuffles of `p` plus those of the plans behind the caches it scans. */
  private def shufflesThroughCaches(p: SparkPlan): Int = collectAll(p).map {
    case m: InMemoryTableScanExec => shufflesThroughCaches(m.relation.cachedPlan)
    case _: ShuffleExchangeExec => 1
    case _ => 0
  }.sum

  test("GArr.vindex: the gather co-group plus the assemble, TWO exchanges (THREE with the subspace reshape)") {
    import graft.operators.GArr
    val a = GArr.fromFunction(spark, Seq(60L, 40L), Seq(16, 16))(g => g(0) * 41.0 + g(1))
    val pts = Map(0 -> (Seq(6L), Array(0L, 59L, 17L, 17L, 33L, 2L)),
      1 -> (Seq(6L), Array(39L, 0L, 16L, 5L, 21L, 2L)))
    for (salt <- Seq(1, 2)) {
      val p = noAqePlan(a.vindex(pts, salt = salt).blockSums)
      assert(shuffles(p) == 2, s"vindex salt=$salt exchange count changed:\n$p")
    }
    val grid = Map(0 -> (Seq(3L, 1L), Array(1L, 40L, 59L)), 1 -> (Seq(4L), Array(0L, 39L, 7L, 20L)))
    val p = noAqePlan(a.vindex(grid, targetChunk = 5).blockSums)
    assert(shuffles(p) == 3, s"vindex (reshaped subspace) exchange count changed:\n$p")
  }

  test("GArr.compressArr: the gather co-group plus the assemble, exactly TWO exchanges") {
    import graft.operators.GArr
    val a = GArr.fromFunction(spark, Seq(60L, 40L), Seq(16, 16))(g => g(0) * 41.0 + g(1))
    val m = GArr.fromFunction(spark, Seq(40L), Seq(16))(g => if (g(0) % 3 != 1) 1.0 else 0.0)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the result comes back cached: count the exchanges behind the cache
    val c = try a.compressArr(m, axis = 1) finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    try {
      val p = c.blocks.queryExecution.executedPlan
      assert(shufflesThroughCaches(p) == 2, s"compressArr exchange count changed:\n$p")
    } finally c.blocks.unpersist(true)
  }

  test("GArr.slidingWindowAxis: the one-sided halo gather costs exactly ONE shuffle") {
    import graft.operators.GArr
    val a = GArr.fromFunction(spark, Seq(400L), Seq(64))(g => (g(0) % 9).toDouble)
    val p = noAqePlan(a.slidingWindowAxis(0, 7).blockSums)
    assert(shuffles(p) == 1, s"sliding window grew a shuffle:\n$p")
  }

  test("ComplexFft.fftAxis on a block-local axis: ZERO exchanges (pure narrow lanes)") {
    import graft.operators.{ComplexFft, GArr}
    val a = GArr.fromFunction(spark, Seq(8L, 64L), Seq(4, 64))(g => (g(0) * 64 + g(1)) % 11)
    val p = noAqePlan(ComplexFft.fftArr(a, 1).reArr.blockSums)
    assert(collectAll(p).count(_.isInstanceOf[Exchange]) == 0,
      s"single-chunk-axis fft must stay narrow:\n$p")
  }

  test("einsum matmul form: partial->final typed agg, no global sort") {
    import graft.operators.{Einsum, GArr}
    val a = GArr.fromFunction(spark, Seq(48L, 32L), Seq(16, 16))(g => (g(0) * 7 + g(1)) % 5)
    val b = GArr.fromFunction(spark, Seq(32L, 40L), Seq(16, 16))(g => (g(0) + g(1) * 3) % 7)
    val p = noAqePlan(Einsum.einsum("ij,jk->ik", Seq(a, b)).blockSums)
    val aggs = collectAll(p).filter(_.nodeName.toLowerCase.contains("aggregate"))
    assert(aggs.size >= 2, s"einsum/bmm lost its map-side combine:\n$p")
    val globalSorts = collectAll(p).filter(n =>
      n.nodeName == "Sort" && !n.toString.contains("false, 0"))
    assert(globalSorts.isEmpty, s"einsum grew a global sort:\n${globalSorts.headOption}")
  }

  test("matmul map-side combine measurably shrinks the output-reduce exchange") {
    import graft.operators.GArr
    // grid 8x8 with an 8-deep contraction fan: 512 partial output blocks.
    // With 2 shuffle partitions each task co-locates ~4 contraction
    // slices, so the combiner merges them 4->1 per output coordinate:
    // the reduce exchange must carry FAR fewer records than the 512
    // uncombined partials (the round-6 groupByKey.mapGroups shipped all
    // 512 through the wire).
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val a = GArr.fromFunction(spark, Seq(128L, 128L), Seq(16, 16))(
        g => ((g(0) * 7 + g(1)) % 5).toDouble)
      val b = GArr.fromFunction(spark, Seq(128L, 128L), Seq(16, 16))(
        g => ((g(0) + g(1) * 3) % 7).toDouble)
      val df = a.matmul(b).blockSums
      df.collect()
      val exchanges = collectAll(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "no exchange found")
      val written = exchanges.flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value))
      assert(written.nonEmpty,
        s"no shuffleRecordsWritten metric; available: ${exchanges.head.metrics.keys}")
      // the reduce exchange is the one moving ABlock partials; every
      // exchange in this chain must stay well under the 512 uncombined
      // partial count (the join exchange moves 2x64=128 input blocks)
      assert(written.forall(_ <= 256),
        s"an exchange carried uncombined partials: records=$written (512 = no combine)")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("GArr axis reduction: partial->final typed agg (map-side combine) around one shuffle") {
    import graft.operators.GArr
    val a = GArr.fromFunction(spark, Seq(64L, 48L), Seq(16, 16))(g => g(0) + 2.0 * g(1))
    val p = noAqePlan(a.sumAxis(0).blockSums)
    val aggs = collectAll(p).filter(_.nodeName.toLowerCase.contains("aggregate"))
    assert(aggs.size >= 2, s"axisAgg lost its map-side combine:\n$p")
    assert(shuffles(p) == 1, s"axisAgg shuffle count changed:\n$p")
  }

  // ---- TPC-H macro tier: the scale properties each shape exists to prove

  test("tpch q6: all four predicates pushed to the parquet scan, no join, one agg shuffle") {
    val p = plan("q192_tpch_q6")
    val scans = collectAll(p).filter(_.nodeName.toLowerCase.contains("scan"))
    assert(scans.exists { s =>
      val t = s.toString
      t.contains("PushedFilters: [") && t.contains("l_shipdate") &&
        t.contains("l_discount") && t.contains("l_quantity")
    }, s"q192 scan lost pushed predicates:\n${scans.mkString("\n")}")
    assert(shuffles(p) == 1, s"q192 shuffle count changed:\n$p")
  }

  test("tpch q3/q10/q18: top-k is TakeOrderedAndProject, never a global sort") {
    for (q <- Seq("q191_tpch_q3", "q197_tpch_q10", "q193_tpch_q18")) {
      val p = plan(q)
      assert(collectAll(p).exists(_.nodeName.contains("TakeOrdered")),
        s"$q lost its TakeOrdered:\n$p")
      // Sort nodes may appear inside sort-merge joins, but the RESULT
      // ordering must come from TakeOrdered's per-partition heap, not a
      // root-level global Sort
      assert(!p.nodeName.startsWith("Sort"),
        s"$q orders via a global root sort:\n$p")
    }
  }

  test("tpch q5: fixed-size dims broadcast; fact-fact joins shuffle on their FKs") {
    val p = plan("q194_tpch_q5")
    assert(collectAll(p).exists(n => n.isInstanceOf[BroadcastExchangeExec] ||
      n.nodeName.contains("BroadcastHashJoin")),
      s"q194 lost the nation/region broadcast:\n$p")
  }

  test("tpch q1: eight aggregates share ONE partial->final pass (single shuffle)") {
    val p = plan("q196_tpch_q1")
    val aggs = collectAll(p).filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.size >= 2, s"q196 lost map-side combine:\n$p")
    assert(shuffles(p) == 1, s"q196 shuffle count changed:\n$p")
    val scans = collectAll(p).filter(_.nodeName.toLowerCase.contains("scan"))
    assert(scans.exists { s =>
      val t = s.toString
      t.contains("PushedFilters: [") && t.contains("l_shipdate")
    }, s"q196 scan lost the date pushdown:\n${scans.mkString("\n")}")
  }

  // ---- TPC-H semi/anti tier (round 12): the planner paths q191-q198
  // don't exercise — every EXISTS/NOT-IN must lower to a semi/anti JOIN
  // node, never a join+distinct or a cartesian product.

  private def planString(p: SparkPlan): String = collectAll(p).mkString("\n")

  test("tpch q4: EXISTS lowers to ONE semi join, no distinct, no cartesian") {
    val p = plan("q200_tpch_q4")
    val s = planString(p)
    assert(s.contains("LeftSemi"), s"q200 lost its semi join:\n$p")
    assert(!s.contains("CartesianProduct"), s"q200 grew a cartesian:\n$p")
    assert(!collectAll(p).exists(_.nodeName.contains("Distinct")),
      s"q200 lowers EXISTS via join+distinct instead of a semi join:\n$p")
  }

  test("tpch q13: right-side filter stays inside the LEFT join (zero-order customers kept)") {
    val p = plan("q201_tpch_q13")
    val s = planString(p)
    assert(s.contains("LeftOuter"), s"q201 lost the left join:\n$p")
    // two aggregate stages: per-customer count, then the distribution
    val aggShuffles = shuffles(p)
    assert(aggShuffles <= 3, s"q201 shuffle count grew to $aggShuffles:\n$p")
  }

  test("tpch q16: NOT IN lowers to an anti join; fixed-size sides broadcast") {
    val p = plan("q202_tpch_q16")
    val s = planString(p)
    assert(s.contains("LeftAnti"), s"q202 lost its anti join:\n$p")
    assert(collectAll(p).exists(n => n.isInstanceOf[BroadcastExchangeExec] ||
      n.nodeName.contains("BroadcastHashJoin")),
      s"q202 lost the part/supplier broadcast:\n$p")
    assert(!s.contains("CartesianProduct"), s"q202 grew a cartesian:\n$p")
  }

  test("tpch q21: multi-EXISTS = one semi + one anti join, TakeOrdered, no cartesian") {
    val p = plan("q203_tpch_q21")
    val s = planString(p)
    assert(s.contains("LeftSemi"), s"q203 lost the EXISTS semi join:\n$p")
    assert(s.contains("LeftAnti"), s"q203 lost the NOT-EXISTS anti join:\n$p")
    assert(collectAll(p).exists(_.nodeName.contains("TakeOrdered")),
      s"q203 lost its TakeOrdered(20):\n$p")
    assert(!s.contains("CartesianProduct"), s"q203 grew a cartesian:\n$p")
  }

  test("tpch q17: decorrelated scalar aggregate — semi-pruned ONCE, agg joined back, no cartesian") {
    val p = plan("q205_tpch_q17")
    val s = planString(p)
    assert(s.contains("LeftSemi"), s"q205 lost the part-prune semi join:\n$p")
    val aggs = collectAll(p).filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.nonEmpty, s"q205 lost the per-part aggregate:\n$p")
    assert(!s.contains("CartesianProduct"), s"q205 grew a cartesian:\n$p")
  }

  test("tpch q20: nested double-semi — pair agg, part semi, supplier semi, no cartesian") {
    val p = plan("q206_tpch_q20")
    val s = planString(p)
    assert(collectAll(p).count(n => n.toString.contains("LeftSemi")) >= 2 ||
      s.split("LeftSemi").length > 2, s"q206 lost a semi join:\n$p")
    assert(!s.contains("CartesianProduct"), s"q206 grew a cartesian:\n$p")
  }

  // ---- TPC-H optimizer tier (round 13): disjunctive pushdown,
  // aggregate-of-aggregate, nation-pair two-fact join.

  test("tpch q19: OR-of-ANDs hulls pushed to BOTH scans, disjunction in the join condition") {
    val p = plan("q207_tpch_q19")
    val scans = collectAll(p).filter(_.nodeName.toLowerCase.contains("scan"))
    // Catalyst's CNF extraction must push the quantity-band OR-hull to the
    // fact scan and the brand/size OR-hull to the part scan — losing either
    // means the join reads rows no disjunct can accept
    assert(scans.exists { s =>
      val t = s.toString
      t.contains("lineitem") && t.contains("PushedFilters") && t.contains("l_quantity")
    }, s"q207 lineitem scan lost the quantity OR-hull pushdown:\n${scans.mkString("\n")}")
    assert(scans.exists { s =>
      val t = s.toString
      t.contains("part") && t.contains("PushedFilters") && t.contains("p_brand")
    }, s"q207 part scan lost the brand OR-hull pushdown:\n${scans.mkString("\n")}")
    val joins = collectAll(p).filter(_.nodeName.contains("Join"))
    assert(joins.size == 1 && joins.head.nodeName.contains("BroadcastHashJoin"),
      s"q207 join strategy changed:\n$p")
    // the full disjunction must ride the join, not a post-join filter
    // (simpleString = the node's own line, not its subtree)
    assert(joins.head.simpleString(500).contains("Brand#12"),
      s"q207 disjunction left the join condition:\n${joins.head.simpleString(500)}")
    assert(!planString(p).contains("CartesianProduct"), s"q207 grew a cartesian:\n$p")
  }

  test("tpch q15: the revenue view is cached (ONE fact pass), max broadcasts back as an equality BHJ") {
    val p = plan("q208_tpch_q15")
    val s = planString(p)
    // both consumers (the max aggregate and the probe side) must read the
    // cached view — two independent fact scans is the regression
    assert(collectAll(p).count(_.nodeName.contains("InMemoryTableScan")) >= 2,
      s"q208 lost the view cache — the fact is scanned twice:\n$p")
    assert(s.contains("BroadcastHashJoin"), s"q208 max-threshold join degraded:\n$p")
    assert(!s.contains("CartesianProduct"), s"q208 grew a cartesian:\n$p")
  }

  test("tpch q7: nation-pruned dims, supplier semi-reduction BEFORE the orders join, no cartesian") {
    val p = plan("q209_tpch_q7")
    val s = planString(p)
    val scans = collectAll(p).filter(_.nodeName.toLowerCase.contains("scan"))
    // the 2-nation In() must reach the nation scan, the date range the fact scan
    assert(scans.exists(x => x.toString.contains("nation") &&
      x.toString.contains("In(n_name")),
      s"q209 nation scan lost the pair pushdown:\n${scans.mkString("\n")}")
    assert(scans.exists(x => x.toString.contains("lineitem") &&
      x.toString.contains("l_shipdate")),
      s"q209 fact scan lost the date pushdown:\n${scans.mkString("\n")}")
    // join ORDER is load-bearing: lineitem⋈supplier (the nation prune)
    // must sit BELOW lineitem⋈orders so the only fact-fact join runs on
    // the reduced stream — s_suppkey must appear deeper than o_orderkey
    val joins = collectAll(p).filter(_.nodeName.contains("Join"))
    assert(joins.size == 5, s"q209 join count changed (${joins.size}):\n$p")
    // simpleString = the node's own join keys, not the whole subtree
    val suppDepth = joins.indexWhere(j => j.simpleString(500).contains("l_suppkey") &&
      j.simpleString(500).contains("s_suppkey"))
    val ordDepth = joins.indexWhere(j => j.simpleString(500).contains("l_orderkey") &&
      j.simpleString(500).contains("o_orderkey"))
    assert(suppDepth >= 0 && ordDepth >= 0 && suppDepth > ordDepth,
      s"q209 supplier prune no longer below the orders join (supp@$suppDepth ord@$ordDepth):\n$p")
    assert(!s.contains("CartesianProduct"), s"q209 grew a cartesian:\n$p")
  }

  // ---- TPC-H completion tier (round 13b): Q2/Q8/Q9/Q11/Q12 — with
  // these, every one of the 22 TPC-H query shapes has a declared,
  // oracle-gated representative.

  test("tpch q2: part-family semi BELOW the pair aggregate; min joins back co-partitioned") {
    val p = plan("q210_tpch_q2")
    val s = planString(p)
    assert(s.contains("LeftSemi"), s"q210 lost the part-prune semi:\n$p")
    // the semi must sit under every aggregate (it prunes the RAW fact —
    // same commute argument as q206: a partkey filter passes through a
    // partkey-keyed agg), so the semi node's own subtree contains none
    val semis = collectAll(p).filter(_.simpleString(500).contains("LeftSemi"))
    assert(semis.nonEmpty &&
      semis.forall(j => collectAll(j).count(_.nodeName.contains("HashAggregate")) == 0),
      s"q210 part semi no longer below the pair aggregate:\n$p")
    assert(!s.contains("CartesianProduct"), s"q210 grew a cartesian:\n$p")
    assert(collectAll(p).exists(_.nodeName.contains("TakeOrdered")),
      s"q210 lost its TakeOrdered(100):\n$p")
  }

  test("tpch q8: promo semi prunes the fact first; date filter pushed; no cartesian") {
    val p = plan("q211_tpch_q8")
    val s = planString(p)
    assert(s.contains("LeftSemi"), s"q211 lost a membership semi:\n$p")
    val scans = collectAll(p).filter(_.nodeName.toLowerCase.contains("scan"))
    assert(scans.exists(x => x.toString.contains("orders") &&
      x.toString.contains("o_orderdate")),
      s"q211 orders scan lost the date pushdown:\n${scans.mkString("\n")}")
    assert(!s.contains("CartesianProduct"), s"q211 grew a cartesian:\n$p")
  }

  test("tpch q9: name-LIKE prune broadcast into the fact, partial->final agg, no cartesian") {
    val p = plan("q212_tpch_q9")
    val s = planString(p)
    assert(collectAll(p).exists(n => n.isInstanceOf[BroadcastExchangeExec] ||
      n.nodeName.contains("BroadcastHashJoin")),
      s"q212 lost the part/supplier broadcasts:\n$p")
    val aggs = collectAll(p).filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.size >= 2, s"q212 lost map-side combine:\n$p")
    assert(!s.contains("CartesianProduct"), s"q212 grew a cartesian:\n$p")
  }

  test("tpch q11: value view cached (one fact pass); 1-row threshold is BNLJ, not cartesian") {
    val p = plan("q213_tpch_q11")
    val s = planString(p)
    assert(collectAll(p).count(_.nodeName.contains("InMemoryTableScan")) >= 2,
      s"q213 lost the view cache — the fact is aggregated twice:\n$p")
    assert(s.contains("LeftSemi"), s"q213 lost the supplier semi:\n$p")
    assert(!s.contains("CartesianProduct"), s"q213 grew a cartesian:\n$p")
  }

  test("tpch q12: one fact-fact join, date pushed to the fact scan, single agg pass") {
    val p = plan("q214_tpch_q12")
    val joins = collectAll(p).filter(_.nodeName.contains("Join"))
    assert(joins.size == 1, s"q214 join count changed:\n$p")
    val scans = collectAll(p).filter(_.nodeName.toLowerCase.contains("scan"))
    assert(scans.exists(x => x.toString.contains("lineitem") &&
      x.toString.contains("l_shipdate")),
      s"q214 fact scan lost the date pushdown:\n${scans.mkString("\n")}")
    assert(!planString(p).contains("CartesianProduct"), s"q214 grew a cartesian:\n$p")
  }

  // ---- q03/q05 join-strategy mix (round 13, VERDICT r12 #2): the two
  // queries whose driver-rerun bench times drifted ~55% at identical code.
  // Pin the static strategy mix so a future drift is attributable: if
  // these stay green while the bench moves, the cause is measurement
  // noise, not a plan flip.

  test("q03: exactly two joins, both broadcast-hash, topped by TakeOrdered") {
    val p = plan("q03_join")
    val joins = collectAll(p).filter(_.nodeName.contains("Join"))
    assert(joins.size == 2 && joins.forall(_.nodeName.contains("BroadcastHashJoin")),
      s"q03 join mix changed (${joins.map(_.nodeName)}):\n$p")
  }

  test("q05: exactly four joins (five tables), all broadcast-hash, one agg shuffle") {
    val p = plan("q05_join5way")
    val joins = collectAll(p).filter(_.nodeName.contains("Join"))
    assert(joins.size == 4 && joins.forall(_.nodeName.contains("BroadcastHashJoin")),
      s"q05 join mix changed (${joins.map(_.nodeName)}):\n$p")
    assert(shuffles(p) == 1, s"q05 grew a shuffle beyond the final agg:\n$p")
  }

  test("tpch q22: scalar threshold broadcasts (1-row NLJ, not cartesian); anti join present") {
    val p = plan("q204_tpch_q22")
    val s = planString(p)
    assert(s.contains("LeftAnti"), s"q204 lost its anti join:\n$p")
    // the 1-row threshold may ride a BroadcastNestedLoopJoin — that is the
    // right plan; an unbroadcast CartesianProduct is not
    assert(!s.contains("CartesianProduct"), s"q204 grew a cartesian:\n$p")
  }
}
