package graft

import graft.api.{GDF, IndexMeta}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator family from
  * SURVEY.md §2 through the graft API; [[oracleSql]] holds the equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet tables.
  * Column names/aliases are kept identical on both sides (the driver's
  * compare sorts columns by name before hashing).  Floating-point outputs
  * are rounded on both sides so summation-order differences between
  * engines cannot flip the hash.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") GraftSession.events(s, dir)
    else GraftSession.table(s, dir, name)
  private def g(s: SparkSession, dir: String, name: String): GDF =
    GDF(t(s, dir, name))

  /** Total order over lineitem for the block-array queries: (l_orderkey,
    * l_linenumber) alone is NOT unique on ScaleGen replicas (collided key
    * offsets), and a non-total sort makes row_number nondeterministic —
    * the 40× q153 lesson. This 5-column key is verified duplicate-free at
    * 40× and must match the oracle SQL's ORDER BY exactly.
    */
  private val liTotalOrder =
    Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")

  /** The first `n` lineitem rows in [[liTotalOrder]]. */
  private def liHead(li: DataFrame, n: Int): DataFrame =
    li.sort(liTotalOrder.map(col): _*).limit(n)

  /** Write `df` as ONE parquet file `<name>.parquet` inside `watchDir`
    * with a controlled modification time.  The streaming file source
    * orders files by mod time (oldest first), so distinct mtimes plus
    * `maxFilesPerTrigger=1` make the micro-batch ORDER deterministic —
    * the replay harness for testing watermark/late-data semantics
    * against a batch oracle.
    */
  private[graft] def writeStreamFile(df: DataFrame, watchDir: String, name: String,
                                     mtime: Long): Unit = {
    val tmp = s"${watchDir}_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpDir = new java.io.File(tmp)
    val part = tmpDir.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    val destDir = new java.io.File(watchDir)
    destDir.mkdirs()
    val dest = new java.io.File(destDir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmpDir.listFiles().foreach(_.delete()); tmpDir.delete()
    dest.setLastModified(mtime): Unit
  }

  /** Drain a streaming replay through a DISTRIBUTED in-memory sink
    * (foreachBatch persists each micro-batch's frame in executor block
    * storage, so update mode works too), union the batches, apply the
    * finishing batch transform, and eagerly localCheckpoint the result
    * so it survives the per-batch unpersist and replayRun's runDir
    * cleanup.
    *
    * Sink history: the original memory sink held EVERY stream output
    * row on the driver and re-shipped them inside task closures for the
    * finishing query — linear-in-SF driver state (the 16–65 MB
    * task-size warnings at the 10×/40× gates, impossible at 100 TB).
    * The r11–r14 parquet file sink fixed that but paid a full Hadoop
    * commit protocol per micro-batch plus a read-back — measured as the
    * bulk of q144's fixed cost, the suite's slowest query (~3.1 s at
    * sf0.1 for ~720 output rows over 4+ batches).  Persisting the batch
    * frames keeps the stream output distributed end to end
    * (MEMORY_AND_DISK: spills under pressure, never collects to the
    * driver — the foreachBatch persist pattern from the structured
    * streaming guide) with zero commit latency; the per-batch blocks
    * are freed in the finally once `finish`'s (small) result is pinned.
    * Streaming semantics are untouched: same source, same watermarks,
    * same state store, same per-batch output row multiset — only the
    * sink changed.
    */
  private[graft] def drainReplay(out: DataFrame, runDir: String, name: String,
                                 run: String, mode: String)
                                (finish: DataFrame => DataFrame): DataFrame = {
    val s = out.sparkSession
    val batches = new scala.collection.mutable.ArrayBuffer[DataFrame]()
    val query = out.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        // persist + materialize inside the batch callback (a micro-batch
        // plan is not re-executable once the stream moves on); count()
        // scans every partition so the cache is complete before returning
        val p = b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count(): Unit
        batches.synchronized { batches += p; () }
      }
      .queryName(s"${name}_$run").outputMode(mode)
      .option("checkpointLocation", s"$runDir/${name}_ck")
      .start()
    query.processAllAvailable()
    query.stop()
    // a stream that produced zero micro-batches has nothing to union —
    // fall back to an empty frame with the stream's schema (the memory
    // sink this lineage started from tolerated empty output)
    val drained = batches.synchronized {
      if (batches.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], out.schema)
      else batches.reduce(_.union(_))
    }
    try finish(drained).localCheckpoint(true)
    finally batches.synchronized {
      batches.foreach(b => try { b.unpersist(false); () } catch { case _: Exception => () })
    }
  }

  /** Deterministic-wall-time wrapper for the streaming replay queries
    * (q142/q144/q145/q146). Two sources of run-to-run bench variance are
    * pinned here (the replays swung 2-5x across measurement contexts):
    * (1) the state-store partition count — each micro-batch commits one
    * state store per shuffle partition, and 32 tiny commits x several
    * batches dominated (and randomized) these sub-second replays, so the
    * replay runs at 4 partitions and the session setting is restored
    * after; (2) checkpoint/watch-dir I/O — /tmp is disk here, so the run
    * directory lives on tmpfs (/dev/shm) when available and is deleted
    * afterwards (the memory sink holds the result rows; the files are
    * not needed once processAllAvailable returns). `body` receives
    * (runDir, runId).
    */
  private def replayRun[T](s: SparkSession)(body: (String, String) => T): T = {
    val run = java.util.UUID.randomUUID.toString.replace("-", "")
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_stream"
               else "/tmp/graft_stream"
    val runDir = s"$base/$run"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try body(runDir, run)
    finally {
      // every replay names its stream `..._$run`; if the body threw between
      // start() and its own stop() (e.g. processAllAvailable failed), the
      // query would outlive this block and race the runDir delete below —
      // stop any survivor before touching the directory
      s.streams.active.filter(q => Option(q.name).exists(_.endsWith(run)))
        .foreach(q => try q.stop() catch { case _: Exception => () })
      s.conf.set("spark.sql.shuffle.partitions", prev)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
        f.delete(): Unit
      }
      rm(new java.io.File(runDir))
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1/§2.5 scan → filter → groupby agg (TPC-H Q1 shape) --------
    "q01_agg" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupby("l_returnflag", "l_linestatus")
        .aggAliased(
          ("l_quantity", "sum", "sum_qty"),
          ("l_extendedprice", "sum", "sum_base_price"),
          ("l_quantity", "mean", "avg_qty"),
          ("l_extendedprice", "mean", "avg_price"),
          ("l_discount", "mean", "avg_disc"),
          ("l_quantity", "count", "count_order"))
        .assign("sum_qty", round(col("sum_qty"), 2))
        .assign("sum_base_price", round(col("sum_base_price"), 2))
        .assign("avg_qty", round(col("avg_qty"), 4))
        .assign("avg_price", round(col("avg_price"), 4))
        .assign("avg_disc", round(col("avg_disc"), 4))
        .df
    },
    // ---- §2.3 projection + filter + computed column --------------------
    "q02_filter_project" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        // identical fp expression on both engines (round() half-up vs
        // half-even differs at representation boundaries)
        .assign("disc_price",
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5) / 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "disc_price")
        .df
    },
    // ---- §2.4 multi-way join + agg (TPC-H Q3 shape) ---------------------
    "q03_join" -> { (s, dir) =>
      val cust = g(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = g(s, dir, "orders")
      val li = g(s, dir, "lineitem")
      cust
        .merge(ord.rename("o_custkey" -> "c_custkey"), on = Seq("c_custkey"))
        .merge(li.rename("l_orderkey" -> "o_orderkey"), on = Seq("o_orderkey"))
        .groupby("o_orderkey")
        .aggAliased(("l_extendedprice", "sum", "revenue"))
        .assign("revenue", round(col("revenue"), 2))
        .sortValues(Seq("revenue", "o_orderkey"), Seq(false, true))
        .headDF(10)
        .df
    },
    // ---- §2.4 broadcast join (small dim) --------------------------------
    "q04_broadcast_join" -> { (s, dir) =>
      val part = g(s, dir, "part").filter(col("p_size") <= 10)
      g(s, dir, "lineitem")
        .rename("l_partkey" -> "p_partkey")
        .merge(part, on = Seq("p_partkey"), broadcastRight = true)
        .groupby("p_brand")
        .aggAliased(("l_quantity", "sum", "total_qty"), ("l_quantity", "count", "n_items"))
        .assign("total_qty", round(col("total_qty"), 2))
        .df
    },
    // ---- §2.4 5-way join (TPC-H Q5 shape) -------------------------------
    "q05_join5way" -> { (s, dir) =>
      val region = g(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = g(s, dir, "nation").rename("n_regionkey" -> "r_regionkey")
      val cust = g(s, dir, "customer").rename("c_nationkey" -> "n_nationkey")
      val ord = g(s, dir, "orders").rename("o_custkey" -> "c_custkey")
      val li = g(s, dir, "lineitem").rename("l_orderkey" -> "o_orderkey")
      // revenue in exact integer ten-thousandths (price has 2 decimals,
      // discount 2): the BIGINT sum is order-independent, so ANY
      // partitioning/AQE plan yields the bit-identical total — the
      // round-then-hash float-sum ceiling does not exist in this form
      region
        .merge(nation, on = Seq("r_regionkey"))
        .merge(cust, on = Seq("n_nationkey"))
        .merge(ord, on = Seq("c_custkey"))
        .merge(li, on = Seq("o_orderkey"))
        .assign("rev", round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .groupby("n_name")
        .aggAliased(("rev", "sum", "rev_e4"))
        // half-up to cents in the integer domain, then one exact division
        .assign("revenue", expr("(rev_e4 + 50) div 100") / 100.0)
        .drop("rev_e4")
        .df
    },
    // ---- §2.4 leftsemi / leftanti ---------------------------------------
    "q06_semi_anti" -> { (s, dir) =>
      val cust = g(s, dir, "customer")
      val ord = g(s, dir, "orders").rename("o_custkey" -> "c_custkey")
      val withOrders = cust.merge(ord, on = Seq("c_custkey"), how = "leftsemi")
        .assign("kind", lit("with_orders"))
      val withoutOrders = cust.merge(ord, on = Seq("c_custkey"), how = "leftanti")
        .assign("kind", lit("without_orders"))
      withOrders.concat(withoutOrders)
        .groupby("kind").countRows("n").df
    },
    // ---- §2.4 outer join ------------------------------------------------
    "q07_outer_join" -> { (s, dir) =>
      val ordCnt = g(s, dir, "orders")
        .groupby("o_custkey").countRows("n_orders")
        .rename("o_custkey" -> "c_custkey")
      g(s, dir, "customer")
        .merge(ordCnt, on = Seq("c_custkey"), how = "left")
        .fillna(0L, Seq("n_orders"))
        .select("c_custkey", "n_orders")
        .df
    },
    // ---- §2.5 distinct / drop_duplicates --------------------------------
    "q08_distinct" -> { (s, dir) =>
      g(s, dir, "lineitem").select("l_returnflag", "l_linestatus").dropDuplicates().df
    },
    // ---- §2.5 value_counts ----------------------------------------------
    "q09_value_counts" -> { (s, dir) =>
      g(s, dir, "orders").valueCounts("o_orderpriority").df
    },
    // ---- §2.5 nunique + idxmax ------------------------------------------
    "q10_nunique_idx" -> { (s, dir) =>
      // separate single-purpose aggregates instead of one multi-DISTINCT
      // agg: Spark's Expand plan would triple the scanned rows; three
      // column-pruned scans each read exactly one or two columns and run
      // partial-distinct before their exchange
      val li = t(s, dir, "lineitem")
      li.agg(countDistinct(col("l_partkey")).as("n_parts"))
        .crossJoin(li.agg(countDistinct(col("l_suppkey")).as("n_supps")))
        .crossJoin(li.agg(
          max_by(col("l_orderkey"), struct(col("l_extendedprice"), col("l_orderkey")))
            .as("idxmax_price")))
    },
    // ---- §2.5 var/std/skew/kurt -----------------------------------------
    "q11_moments" -> { (s, dir) =>
      t(s, dir, "lineitem").agg(
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(stddev_samp(col("l_quantity")), 4).as("std_qty"),
        round(skewness(col("l_discount")), 4).as("skew_disc"),
        round(kurtosis(col("l_discount")), 4).as("kurt_disc"),
        round(avg(col("l_quantity")), 4).as("mean_qty"))
    },
    // ---- §2.5 exact quantile / median -----------------------------------
    "q12_quantile" -> { (s, dir) =>
      // r14: distributed range-sort + positional pick instead of the
      // builtin percentile aggregate — the builtin's final merge folds a
      // value-count map of ALL distinct prices into ONE reducer task
      // (O(n_distinct) single-task memory at 100 TB); Quantile.exact
      // reproduces its interpolation arithmetic bit-for-bit
      // (QuantileSpec pins ==) with every task holding only a range
      // slice. One sort pass for all three cut points.
      // DRIVER-CONTRACT NOTE (r15, ADVICE r14): q12 and q102 are EAGER —
      // Quantile.exact runs Spark jobs at query-CONSTRUCTION time and
      // the returned frame is a literal projection. Bench/Verify time
      // the construction inside their windows (correct), but harness
      // code must not pre-build all declared DataFrames up front.
      val ps = graft.operators.Quantile.exact(
        t(s, dir, "lineitem"), "l_extendedprice", Seq(0.5, 0.9, 0.99))
      s.range(1).select(
        round(lit(ps(0)), 4).as("p50"),
        round(lit(ps(1)), 4).as("p90"),
        round(lit(ps(2)), 4).as("p99"))
    },
    // ---- §2.5 corr / cov ------------------------------------------------
    "q13_corr_cov" -> { (s, dir) =>
      t(s, dir, "lineitem").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qe"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qe"))
    },
    // ---- §2.5 groupby median (holistic) ---------------------------------
    "q14_group_median" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .groupby("l_returnflag")
        .median("l_extendedprice", "med_price")
        .assign("med_price", round(col("med_price"), 4))
        .df
    },
    // ---- §2.5 pivot_table -----------------------------------------------
    "q15_pivot" -> { (s, dir) =>
      g(s, dir, "orders")
        .pivotTable("o_orderpriority", "o_orderstatus", "o_totalprice",
          aggfunc = "count", knownValues = Seq("F", "O", "P"))
        .rename("F" -> "st_f", "O" -> "st_o", "P" -> "st_p")
        .fillna(0L, Seq("st_f", "st_o", "st_p"))
        .df
    },
    // ---- §2.8 melt / unpivot --------------------------------------------
    "q16_melt" -> { (s, dir) =>
      g(s, dir, "part")
        .assign("p_size", col("p_size").cast("double"))
        .melt(Seq("p_partkey"), Seq("p_size", "p_retailprice"))
        .df
    },
    // ---- §2.3 case_when / where / clip ----------------------------------
    "q17_case_when" -> { (s, dir) =>
      g(s, dir, "customer")
        .assign("bal_bucket",
          when(col("c_acctbal") < 0, "negative")
            .when(col("c_acctbal") < 5000, "low")
            .otherwise("high"))
        .assign("bal_clipped", round(greatest(least(col("c_acctbal"), lit(5000.0)), lit(0.0)), 2))
        .groupby("bal_bucket")
        .aggAliased(("bal_clipped", "sum", "sum_clipped"), ("bal_clipped", "count", "n"))
        .assign("sum_clipped", round(col("sum_clipped"), 2))
        .df
    },
    // ---- §2.9 string functions ------------------------------------------
    "q18_str_funcs" -> { (s, dir) =>
      g(s, dir, "part")
        .assign("name_upper", upper(col("p_name")))
        .assign("name_len", length(col("p_name")).cast("int"))
        .assign("brand_trim", trim(col("p_brand")))
        .assign("first_word", split(col("p_name"), " ").getItem(0))
        .assign("has_green", col("p_name").contains("green"))
        .assign("padded", lpad(col("p_type"), 30, "_"))
        .select("p_partkey", "name_upper", "name_len", "brand_trim", "first_word",
          "has_green", "padded")
        .df
    },
    // ---- §2.9 datetime functions ----------------------------------------
    "q19_dt_funcs" -> { (s, dir) =>
      g(s, dir, "orders")
        .assign("yr", year(col("o_orderdate")).cast("int"))
        .assign("mo", month(col("o_orderdate")).cast("int"))
        .assign("dom", dayofmonth(col("o_orderdate")).cast("int"))
        .assign("qtr", quarter(col("o_orderdate")).cast("int"))
        .assign("wd", weekday(col("o_orderdate")).cast("int"))
        .assign("trunc_mo", date_trunc("month", col("o_orderdate")))
        .select("o_orderkey", "yr", "mo", "dom", "qtr", "wd", "trunc_mo")
        .df
    },
    // ---- §2.7 sort + limit (nlargest) -----------------------------------
    "q20_nlargest" -> { (s, dir) =>
      g(s, dir, "orders")
        .sortValues(Seq("o_totalprice", "o_orderkey"), Seq(false, true))
        .headDF(25)
        .select("o_orderkey", "o_totalprice")
        .df
    },
    // ---- §2.6 window rank within group ----------------------------------
    "q21_rank" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk").cast("int").as("rk"))
    },
    // ---- §2.3 isin / between / query ------------------------------------
    "q22_isin_between" -> { (s, dir) =>
      g(s, dir, "supplier")
        .isin("s_nationkey", Seq(1, 3, 5, 7))
        .between("s_acctbal", 0.0, 5000.0)
        .query("s_suppkey % 2 = 0")
        .select("s_suppkey", "s_nationkey", "s_acctbal")
        .df
    },
    // ---- §2.5 groupby multi-key + size + nunique ------------------------
    "q23_group_multi" -> { (s, dir) =>
      // q10 lesson: a DISTINCT mixed into a plain agg plans an Expand
      // (2× scan rows through both agg phases); two pruned single-purpose
      // aggregates + a tiny join scale linearly instead
      val li = g(s, dir, "lineitem")
      val dist = li.groupby("l_returnflag", "l_linestatus").nunique("l_orderkey", "n_orders")
      val plain = li.groupby("l_returnflag", "l_linestatus")
        .aggAliased(
          ("l_quantity", "size", "n_rows"),
          ("l_extendedprice", "max", "max_price"),
          ("l_extendedprice", "min", "min_price"))
      dist.merge(plain, on = Seq("l_returnflag", "l_linestatus"), how = "inner").df
    },
    // ---- §2.8 concat axis=0 (union) -------------------------------------
    "q24_concat" -> { (s, dir) =>
      val c = g(s, dir, "customer").select("c_name").rename("c_name" -> "name")
        .assign("src", lit("customer"))
      val sup = g(s, dir, "supplier").select("s_name").rename("s_name" -> "name")
        .assign("src", lit("supplier"))
      c.concat(sup).groupby("src").countRows("n").df
    },

    // ---- §2.3 dropna over injected nulls --------------------------------
    "q25_dropna" -> { (s, dir) =>
      val ev = GDF(t(s, dir, "events")
        .withColumn("value", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))))
      ev.dropna(subset = Seq("value"))
        .groupby("event_type")
        .aggAliased(("value", "count", "n"), ("value", "sum", "sum_value"))
        .assign("sum_value", round(col("sum_value"), 4))
        .df
    },
    // ---- §2.3 replace ----------------------------------------------------
    "q26_replace" -> { (s, dir) =>
      g(s, dir, "orders")
        .replaceValues(Seq("o_orderstatus"),
          Map("F" -> "FINISHED", "O" -> "OPEN", "P" -> "PENDING"))
        .groupby("o_orderstatus").countRows("n").df
    },
    // ---- §2.8 get_dummies (one-hot over known categories) ---------------
    "q27_get_dummies" -> { (s, dir) =>
      g(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .getDummies("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), prefix = "pr")
        .groupby("o_orderstatus")
        .aggAliased(
          ("pr_1-URGENT", "sum", "n_urgent"), ("pr_2-HIGH", "sum", "n_high"),
          ("pr_3-MEDIUM", "sum", "n_medium"), ("pr_4-NOT SPECIFIED", "sum", "n_notspec"),
          ("pr_5-LOW", "sum", "n_low"))
        .df
    },
    // ---- §2.8 intersect / except (native Spark set ops) -----------------
    "q28_setops" -> { (s, dir) =>
      val f = g(s, dir, "orders").filter(col("o_orderstatus") === "F").select("o_custkey")
      val o = g(s, dir, "orders").filter(col("o_orderstatus") === "O").select("o_custkey")
      val both = f.intersect(o).assign("kind", lit("both"))
      val fOnly = f.exceptRows(o).assign("kind", lit("f_only"))
      both.concat(fOnly).groupby("kind").countRows("n").df
    },
    // ---- §2.8 concat axis=1 (align on key = full outer join) ------------
    "q29_concat_axis1" -> { (s, dir) =>
      val c = g(s, dir, "customer").groupby("c_nationkey").countRows("n_cust")
        .rename("c_nationkey" -> "nationkey")
      val sup = g(s, dir, "supplier").groupby("s_nationkey").countRows("n_supp")
        .rename("s_nationkey" -> "nationkey")
      c.concatAxis1(sup, on = "nationkey")
        .fillna(0L, Seq("n_cust", "n_supp"))
        .df
    },

    // ---- §2.6 ordered/temporal family on events -------------------------
    // global rolling sum via MapOverlap ghost rows (scalable path)
    "q30_rolling_global" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .select(col("event_id"), col("ts"), col("value"))
      val rolled = graft.operators.MapOverlap.rollingSum(ev, "value", 5, "roll_sum")
      rolled.select(col("event_id"), round(col("roll_sum"), 4).as("roll_sum"))
    },
    // per-key rolling mean via native SQL window (parallel by key)
    "q31_rolling_bykey" -> { (s, dir) =>
      val ev = GDF(t(s, dir, "events")).withIndex("ts")
      new graft.api.GRolling(ev.df, 3, Seq("ts", "event_id"), Seq("user_id"), 1)
        .mean("value", "roll_mean")
        .select(col("event_id"), round(col("roll_mean"), 4).as("roll_mean"))
    },
    // distributed two-phase global cumsum
    "q32_cumsum" -> { (s, dir) =>
      // integer-cents contract: the long accumulator is exact at any
      // accumulation order, so the running sum is bit-identical at any
      // scale (a rounded double cumsum flips its last decimal once the
      // prefix grows enough that engine-vs-oracle sum order matters)
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select(col("event_id"), col("ts"), col("cents"))
      graft.operators.Cumulative(ev, "cents", graft.operators.Cumulative.CumSum, "cum_cents")
        .select(col("event_id"), col("cum_cents"))
    },
    // global shift/diff across partition boundaries
    "q33_shift_diff" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .select(col("event_id"), col("ts"), col("value"))
      val shifted = graft.operators.MapOverlap.shift(ev, "value", 1, "prev_value")
      shifted.select(
        col("event_id"),
        round(col("prev_value"), 4).as("prev_value"),
        round(col("value") - col("prev_value"), 4).as("diff_value"))
    },
    // resample: tumbling 1h buckets
    "q34_resample" -> { (s, dir) =>
      graft.operators.Resample.agg(
        t(s, dir, "events"), "ts", 3600,
        Seq(
          "n" -> count(lit(1)),
          "sum_value" -> round(sum(col("value")), 4),
          "max_value" -> round(max(col("value")), 4)))
    },
    // resample OHLC
    "q35_ohlc" -> { (s, dir) =>
      graft.operators.Resample.ohlc(t(s, dir, "events"), "ts", 3600, "value", "event_id")
        .select(col("ts"), round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"))
    },
    // distributed ffill over injected nulls
    "q36_ffill" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("value", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        .orderBy(col("ts"), col("event_id"))
        .select(col("event_id"), col("ts"), col("value"))
      graft.operators.Fill.ffill(ev, "value")
        .select(col("event_id"), round(col("value"), 4).as("filled_value"))
    },
    // merge_asof backward: latest order of the same user at event time
    "q37_asof_backward" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"))
      // aggregate right to unique (key, time) so the carried payload is
      // deterministic across engines
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
        .agg(round(max(col("o_totalprice")), 2).as("last_order_price"))
      graft.operators.MergeAsof(ev, ord, on = "ts", by = Seq("user_id"))
        .select(col("event_id"), col("last_order_price"))
    },
    // merge_asof with tolerance (backward, 7 days)
    "q38_asof_tolerance" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
        .agg(round(max(col("o_totalprice")), 2).as("recent_price"))
      graft.operators.MergeAsof(ev, ord, on = "ts", by = Seq("user_id"),
          tolerance = Some(7 * 86400.0))
        .select(col("event_id"), col("recent_price"))
    },
    // §2.3 explode + token frequencies
    "q39_explode_tokens" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50)
    },
    // §2.9 json access on events.props
    "q40_json" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.device").as("device"))
        .groupBy(col("device")).agg(count(lit(1)).as("n"))
    },

    // ---- §2.5 mode (deterministic tie-break) ----------------------------
    "q41_mode" -> { (s, dir) =>
      g(s, dir, "lineitem").modeOf("l_quantity", "mode_qty").df
    },
    // ---- §2.5 first/last by composite order (min_by/max_by on struct) ---
    "q42_group_firstlast" -> { (s, dir) =>
      val li = g(s, dir, "lineitem")
      // l_extendedprice last: (shipdate, orderkey, linenumber) is unique
      // on uniform fixtures but collides under key-skew replication
      // (zipf ScaleGen collapses orderkeys) — the value column as final
      // tiebreak makes first/last deterministic under ANY distribution
      // (rows tied on all four keys share the price, so the pick is
      // value-identical), without changing the uniform-data result.
      val ord = Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
      li.groupby("l_returnflag").firstByOrd("l_extendedprice", ord, "first_price")
        .concatAxis1(
          li.groupby("l_returnflag").lastByOrd("l_extendedprice", ord, "last_price"),
          on = "l_returnflag")
        .df
    },
    // ---- §2.10 per-group UDTF apply (flatMapGroups) ---------------------
    "q43_group_apply" -> { (s, dir) =>
      import s.implicits._
      // integer cents so the per-group arithmetic is exact (float sums
      // are accumulation-order-dependent and can't hash-match an oracle)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, Long, Long)]
      // scaled demeaning within each user — the dask GroupBy.apply shape:
      // whole group shuffled to one task, arbitrary Scala on the group
      ev.groupByKey(_._1)
        .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long)]) =>
          val rows = it.toIndexedSeq
          val total = rows.map(_._3).sum
          val n = rows.size
          rows.map { case (_, eid, c) => (eid, n * c - total) }
        }
        .toDF("event_id", "demeaned_scaled")
    },
    // ---- §2.10 custom Aggregator UDAFs (dd.Aggregation / reduction) -----
    "q44_custom_udaf" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(graft.functions.Aggregators.geometricMean(col("l_quantity").cast("double")), 4)
            .as("geo_qty"),
          round(graft.functions.Aggregators.weightedMean(
            col("l_extendedprice").cast("double"), col("l_quantity").cast("double")), 4)
            .as("wavg_price"))
    },
    // ---- §2.6 expanding window per key ----------------------------------
    "q45_expanding" -> { (s, dir) =>
      // expanding sum over integer cents: exact at any accumulation order
      val ev = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
      graft.api.GRolling.expanding(
          ev, Seq("ts", "event_id"), Seq("user_id"), "cents", "exp_sum", "sum")
        .select(col("event_id"), col("exp_sum"))
    },
    // ---- §2.6 time-range rolling (rangeBetween) -------------------------
    "q46_rolling_range" -> { (s, dir) =>
      val ev = GDF(t(s, dir, "events")).withIndex("ts")
      new graft.api.GRolling(ev.df, 0, Seq("ts"), Seq("user_id"), 1)
        .sumRange("value", "range_sum", 600)
        .select(col("event_id"), round(col("range_sum"), 4).as("range_sum"))
    },
    // ---- §2.11 histogram -------------------------------------------------
    "q47_histogram" -> { (s, dir) =>
      graft.operators.ArrayAlgs.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        0.0, 110000.0, 11)
    },
    // ---- §2.11 digitize / searchsorted ----------------------------------
    "q48_digitize" -> { (s, dir) =>
      val bucket = graft.operators.ArrayAlgs.digitize(
        "c_acctbal", Seq(0.0, 1000.0, 5000.0))
      t(s, dir, "customer").select(col("c_custkey"), bucket)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    },
    // ---- §2.11 pairwise correlation matrix (single scan) ----------------
    "q49_corr_matrix" -> { (s, dir) =>
      graft.operators.ArrayAlgs.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    },

    // ---- LLM-pipeline extensions ---------------------------------------
    // exact dedup on canonicalized text (order-insensitive word multiset)
    "q50_dedup_exact" -> { (s, dir) =>
      graft.operators.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select(col("keep_id"), col("group_size"))
    },
    // MinHash-LSH near-duplicate pairs, exact-Jaccard verified (bigram
    // shingles: the fixture's near-dups are lightly-edited copies with
    // ~0.99 bigram jaccard; unigram shingles would degenerate on the
    // tiny synthetic vocabulary — every doc contains most words)
    "q51_minhash_neardups" -> { (s, dir) =>
      graft.operators.Dedup.nearDuplicates(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.8, shingleSize = 2)
    },
    // per-doc SimHash fingerprints + hamming near-dup pairs
    "q52_simhash_neardups" -> { (s, dir) =>
      graft.operators.Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        maxDistance = 3)
    },
    // winnowing rolling-hash fingerprints per document
    "q53_fingerprint" -> { (s, dir) =>
      graft.operators.Dedup.fingerprints(t(s, dir, "documents"), "doc_id", "text")
    },
    // brute-force cosine top-k (oracle: DuckDB list functions)
    "q54_ann_bruteforce" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      graft.operators.Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"),
          col("rk"))
    },
    // sign-LSH bucketed ANN (IVF-style scale path)
    "q55_ann_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      graft.operators.Similarity.annTopK(emb, queries, "vec_id", "embedding", 3, planes = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"),
          col("rk"))
    },
    // LSH bucket histogram (embedding dedup plumbing; always non-empty)
    "q56_lsh_buckets" -> { (s, dir) =>
      graft.operators.Similarity.lshBuckets(t(s, dir, "embeddings"), "vec_id", "embedding")
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors"))
    },
    // heuristic language ID
    "q57_langid" -> { (s, dir) =>
      graft.operators.TextAnalysis.langId(t(s, dir, "documents"), "text")
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
    },
    // quality scoring
    "q58_quality" -> { (s, dir) =>
      graft.operators.TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
          col("stopword_ratio"), col("quality_score"))
    },
    // token counting (whitespace + BPE-ish regex)
    "q59_tokens" -> { (s, dir) =>
      graft.operators.TextAnalysis.tokenCounts(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("ws_tokens"), col("re_tokens"))
    },
    // multimodal plumbing: binary payload → batched stub decode → features
    "q60_multimodal" -> { (s, dir) =>
      val media = graft.operators.Multimodal.fromDocuments(
        t(s, dir, "documents"), "doc_id", "text")
      graft.operators.Multimodal.extractFeatures(media, featureDim = 8)
        .select(col("media_id"), col("modality"), col("byte_len"))
    },
    // embedding-cosine near-duplicate pairs (exact; composes with LSH
    // buckets at corpus scale — see Similarity.exactNearDupPairs)
    "q61_embedding_neardups" -> { (s, dir) =>
      // exact pairs on a stride subset (all-pairs is the oracle-checkable
      // baseline; the corpus-scale path is LSH-bucketed — q55/q56)
      val vecs = t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
      graft.operators.Similarity.exactNearDupPairs(
          vecs, "vec_id", "embedding", threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
    },

    // corpus-scale embedding near-dups: pair space blocked on sign-LSH
    // bucket keys (≤ 1 plane-sign difference via multi-probe), exact
    // cosine verify — no broadcast of the corpus, no O(reps²) pair space
    "q114_embedding_neardups_bucketed" -> { (s, dir) =>
      graft.operators.Similarity.bucketedNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.95, planes = 8)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
    },

    // ---- §2.1/§2.2 IO roundtrips (csv / json / orc) ---------------------
    "q62_csv_roundtrip" -> { (s, dir) =>
      val path = "/tmp/graft_io/nation_csv"
      graft.sources.IO.toCsv(t(s, dir, "nation"), path)
      graft.sources.IO.readCsv(s, path).df
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_name"))
    },
    "q63_json_roundtrip" -> { (s, dir) =>
      val path = "/tmp/graft_io/supplier_json"
      graft.sources.IO.toJson(t(s, dir, "supplier"), path)
      graft.sources.IO.readJson(s, path).df
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"), round(sum(col("s_acctbal")), 2).as("sum_bal"))
    },
    "q64_orc_roundtrip" -> { (s, dir) =>
      val path = "/tmp/graft_io/orders_orc"
      graft.sources.IO.toOrc(t(s, dir, "orders"), path)
      graft.sources.IO.readOrc(s, path).df
        .groupBy(col("o_orderstatus"))
        // exact integer-cents sum → one exact division; order-independent
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("sum_price"))
    },

    // ---- §2.4 merge_asof forward / nearest ------------------------------
    "q65_asof_forward" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
        .agg(round(max(col("o_totalprice")), 2).as("next_price"))
      graft.operators.MergeAsof(ev, ord, on = "ts", by = Seq("user_id"),
          direction = "forward")
        .select(col("event_id"), col("next_price"))
    },

    // ---- §2.4 GLOBAL merge_asof (no by): range-bucketed carry -----------
    "q115_asof_global" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
      val markers = t(s, dir, "events").filter(col("event_id") % 10 === 0)
        .select(col("ts"), col("value").as("marker_value"))
      graft.operators.MergeAsof(ev, markers, on = "ts", direction = "backward")
        .select(col("event_id"), round(col("marker_value"), 4).as("marker_value"))
    },

    // ---- §2.5g cumprod / value_counts, §2.5 pivot first/last ------------
    "q116_group_cumprod" -> { (s, dir) =>
      // (orderkey, linenumber) is NOT unique in the fixture — the full
      // (linenumber, partkey, suppkey) order makes the running product
      // deterministic. l_discount as final tiebreak extends that to
      // key-skewed data (zipf ScaleGen collapses orderkeys, making even
      // the triple collide): rows tied on all four sort keys carry the
      // same growth factor, so every prefix product — and hence the
      // output multiset — is order-independent under ANY distribution.
      g(s, dir, "lineitem")
        .assign("growth", lit(1.0) + col("l_discount"))
        .groupby("l_orderkey")
        .cumprod("growth", Seq("l_linenumber", "l_partkey", "l_suppkey", "l_discount"), "cum_growth")
        .assign("cum_growth", round(col("cum_growth"), 6))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "cum_growth")
        .df
    },
    "q117_pivot_firstlast" -> { (s, dir) =>
      val o = g(s, dir, "orders")
      val f = o.pivotTable("o_orderpriority", "o_orderstatus", "o_totalprice",
          "first", Seq("F", "O", "P"), Some("o_orderkey"))
        .rename("F" -> "first_F", "O" -> "first_O", "P" -> "first_P")
      val l = o.pivotTable("o_orderpriority", "o_orderstatus", "o_totalprice",
          "last", Seq("F", "O", "P"), Some("o_orderkey"))
        .rename("F" -> "last_F", "O" -> "last_O", "P" -> "last_P")
      f.merge(l, on = Seq("o_orderpriority"), how = "inner")
        .assign("first_F" -> round(col("first_F"), 2), "first_O" -> round(col("first_O"), 2),
          "first_P" -> round(col("first_P"), 2), "last_F" -> round(col("last_F"), 2),
          "last_O" -> round(col("last_O"), 2), "last_P" -> round(col("last_P"), 2))
        .df
    },
    "q118_group_valuecounts" -> { (s, dir) =>
      val ob = g(s, dir, "orders")
      val vc = ob.groupby("o_orderpriority").valueCounts("o_orderstatus", "n")
      val vf = ob.groupby("o_orderpriority")
        .valueCounts("o_orderstatus", "frac", normalize = true)
      vc.merge(vf, on = Seq("o_orderpriority", "o_orderstatus"), how = "inner")
        .assign("frac", round(col("frac"), 6))
        .df
    },

    // ---- §2.6 keyed rolling CUSTOM kernel (RollingApply) ----------------
    // per-user rolling trimmed mean over 5 events: kernel runs on exact
    // integer cents so the result is accumulation-order independent
    "q119_rolling_apply_keyed" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
      new graft.api.GRolling(ev, 5, Seq("ts", "event_id"), Seq("user_id"), 3)
        .applyKeyed("cents", "trimmed") { obs =>
          (obs.sum - obs.min - obs.max) / (obs.size - 2) / 100.0
        }
        .select(col("event_id"), round(col("trimmed"), 4).as("trimmed"))
    },

    // ---- §2.5 order-aware dedup (keep="first") --------------------------
    "q66_dedup_keepfirst" -> { (s, dir) =>
      GDF(t(s, dir, "events"))
        .withIndexCols(Seq("ts", "event_id"))
        .dropDuplicatesKeep(Seq("user_id"), keep = "first")
        .select("user_id", "event_id")
        .df
    },

    // ---- §2.3 sample / random_split (deterministic hash variant) --------
    "q67_sample" -> { (s, dir) =>
      // deterministic content-keyed split + sample (portable hash): the
      // reproducible variant of sample()/randomSplit() a training pipeline
      // actually wants — the kept set is a pure function of the row key,
      // so it IS oracle-checkable (seeded RNG sampling is layout-dependent)
      val key = col("l_orderkey") * 10 + col("l_linenumber")
      val parts = g(s, dir, "lineitem").hashSplit(key, Array(0.8, 0.2))
      val sampled = g(s, dir, "lineitem").hashSample(key, 0.1, seed = 1)
      parts(0).assign("split", lit("train")).select("split", "l_orderkey")
        .concat(
          parts(1).assign("split", lit("test")).select("split", "l_orderkey"),
          sampled.assign("split", lit("sample")).select("split", "l_orderkey"))
        .groupby("split").countRows("n").df
    },

    // ---- §2.5 nunique_approx: HLL++ within declared rsd -----------------
    "q68_nunique_approx" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.05).as("approx"),
          countDistinct(col("l_partkey")).as("exact"))
        .select((abs(col("approx") - col("exact")) / col("exact") <= 0.05)
          .as("within_tolerance"))
    },

    // ---- §2.9 str accessor surface (StrFunctions) -----------------------
    "q70_str_surface" -> { (s, dir) =>
      import graft.functions.StrFunctions
      t(s, dir, "part").select(
        col("p_partkey"),
        StrFunctions.capitalize(col("p_name")).as("cap_name"),
        StrFunctions.zfill(col("p_brand"), 12).as("zbrand"),
        StrFunctions.extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        StrFunctions.count(col("p_name"), "a").cast("long").as("n_a"),
        StrFunctions.swapcase(col("p_brand")).as("swap_brand"),
        StrFunctions.removeprefix(col("p_type"), "STANDARD").as("no_std"),
        StrFunctions.startswith(col("p_name"), "b").as("starts_b"),
        length(StrFunctions.encodeStr(col("p_name"))).as("enc_len"),
        StrFunctions.decodeStr(StrFunctions.encodeStr(col("p_name")))
          .as("dec_roundtrip"),
        StrFunctions.index(col("p_name"), " ").cast("long").as("idx_sp"),
        StrFunctions.rindex(col("p_name"), " ").cast("long").as("ridx_sp"),
        StrFunctions.rpartition(col("p_type"), " ").getField("head").as("rp_head"),
        StrFunctions.rpartition(col("p_type"), " ").getField("tail").as("rp_tail"))
    },
    // ---- §2.9 dt accessor surface (DtFunctions) -------------------------
    "q71_dt_surface" -> { (s, dir) =>
      import graft.functions.DtFunctions
      t(s, dir, "orders").select(
        col("o_orderkey"),
        DtFunctions.dayName(col("o_orderdate")).as("day_name"),
        DtFunctions.monthName(col("o_orderdate")).as("month_name"),
        DtFunctions.daysInMonth(col("o_orderdate")).cast("int").as("dim"),
        DtFunctions.isMonthStart(col("o_orderdate")).as("is_ms"),
        DtFunctions.dayofyear(col("o_orderdate")).cast("int").as("doy"),
        DtFunctions.toPeriodMonth(col("o_orderdate")).as("period"))
    },
    // ---- §2.5 describe (long-form exact stats, one scan) ----------------
    "q72_describe" -> { (s, dir) =>
      val wide = t(s, dir, "lineitem").agg(
        count(col("l_quantity")).cast("double").as("q_count"),
        round(avg(col("l_quantity")), 4).as("q_mean"),
        round(stddev_samp(col("l_quantity")), 4).as("q_std"),
        round(min(col("l_quantity")), 4).as("q_min"),
        round(percentile(col("l_quantity"), lit(0.5)), 4).as("q_p50"),
        round(max(col("l_quantity")), 4).as("q_max"))
      wide.select(explode(array(
        struct(lit("count").as("stat"), col("q_count").as("l_quantity")),
        struct(lit("mean").as("stat"), col("q_mean").as("l_quantity")),
        struct(lit("std").as("stat"), col("q_std").as("l_quantity")),
        struct(lit("min").as("stat"), col("q_min").as("l_quantity")),
        struct(lit("p50").as("stat"), col("q_p50").as("l_quantity")),
        struct(lit("max").as("stat"), col("q_max").as("l_quantity")))).as("s"))
        .select(col("s.stat").as("stat"), col("s.l_quantity").as("l_quantity"))
    },
    // ---- §2.6 rolling min/max/std per key -------------------------------
    "q73_rolling_minmax" -> { (s, dir) =>
      val ev = GDF(t(s, dir, "events")).withIndex("ts")
      val r = new graft.api.GRolling(ev.df, 4, Seq("ts", "event_id"), Seq("user_id"), 1)
      val withMin = r.min("value", "roll_min")
      val withMax = new graft.api.GRolling(withMin, 4, Seq("ts", "event_id"), Seq("user_id"), 1)
        .max("value", "roll_max")
      new graft.api.GRolling(withMax, 4, Seq("ts", "event_id"), Seq("user_id"), 2)
        .std("value", "roll_std")
        .select(col("event_id"), round(col("roll_min"), 4).as("roll_min"),
          round(col("roll_max"), 4).as("roll_max"), round(col("roll_std"), 4).as("roll_std"))
    },
    // ---- §2.5 groupby head + cumcount -----------------------------------
    "q74_group_headtail" -> { (s, dir) =>
      g(s, dir, "orders")
        .groupby("o_custkey")
        .headPerGroupOrd(2, Seq("o_orderdate", "o_orderkey"))
        .select("o_custkey", "o_orderkey")
        .df
    },
    // ---- §2.5 value_counts(normalize=True) ------------------------------
    "q75_value_counts_norm" -> { (s, dir) =>
      g(s, dir, "orders").valueCounts("o_orderpriority", normalize = true)
        .assign("proportion", round(col("proportion"), 6))
        .df
    },
    // ---- §2.6/§2.10 generic map_overlap UDF: global rolling median ------
    "q76_map_overlap_udf" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .select(col("event_id"), col("ts"), col("value"))
      val rolled = graft.operators.MapOverlap.rollingAgg(ev, "value", 5, "roll_med", 1) { xs =>
        val sorted = xs.sorted
        val n = sorted.size
        if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
      }
      rolled.select(col("event_id"), round(col("roll_med"), 4).as("roll_med"))
    },

    // ---- §2.7 loc: index-range selection with partition pruning ---------
    "q77_loc" -> { (s, dir) =>
      g(s, dir, "orders")
        .setIndex("o_orderdate", numPartitions = 8)
        .loc("1996-01-01", "1996-12-31")
        .select("o_orderkey", "o_orderdate")
        .df
    },
    // ---- §2.4 merge(indicator=True) -------------------------------------
    "q78_merge_indicator" -> { (s, dir) =>
      val cust = g(s, dir, "customer").select("c_custkey")
      val ords = g(s, dir, "orders").select("o_custkey").dropDuplicates()
        .rename("o_custkey" -> "c_custkey")
      cust.mergeIndicator(ords, on = Seq("c_custkey"))
        .groupby("_merge").countRows("n").df
    },
    // ---- §2.3 bfill across partition boundaries -------------------------
    "q79_bfill" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("value", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        .orderBy(col("ts"), col("event_id"))
        .select(col("event_id"), col("ts"), col("value"))
      graft.operators.Fill.bfill(ev, "value")
        .select(col("event_id"), round(col("value"), 4).as("bfilled_value"))
    },
    // ---- §2.4 merge_asof nearest ----------------------------------------
    "q80_asof_nearest" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"))
        .agg(round(max(col("o_totalprice")), 2).as("near_price"))
      graft.operators.MergeAsof(ev, ord, on = "ts", by = Seq("user_id"),
          direction = "nearest")
        .select(col("event_id"), col("near_price"))
    },

    // ---- §2.3 to_datetime / to_numeric / astype family ------------------
    "q81_astype" -> { (s, dir) =>
      g(s, dir, "orders")
        .assign("date_str", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .assign("reparsed", to_timestamp(col("date_str"), "yyyy-MM-dd"))
        .assign("price_str", format_number(col("o_totalprice"), 2))
        .assign("price_int", col("o_totalprice").cast("long"))
        .assign("key_str", col("o_orderkey").cast("string"))
        .select("o_orderkey", "date_str", "reparsed", "price_int", "key_str")
        .df
    },
    // ---- §2.6 rolling center=True ---------------------------------------
    "q83_rolling_center" -> { (s, dir) =>
      // integer cents: centered-frame sums stay order-insensitive
      val withCents = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
      new graft.api.GRolling(withCents, 5, Seq("ts", "event_id"), Seq("user_id"), 1)
        .sumCentered("cents", "roll_csum")
        .select(col("event_id"), col("roll_csum"))
    },
    // ---- §2.5 groupby prod / any / all ----------------------------------
    "q84_group_prod_anyall" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .assign("disc_factor", lit(1.0) + col("l_discount"))
        .assign("is_big", col("l_quantity") > 25)
        .groupby("l_partkey")
        .aggAliased(
          ("disc_factor", "prod", "prod_factor"),
          ("is_big", "any", "any_big"),
          ("is_big", "all", "all_big"))
        .assign("prod_factor", round(col("prod_factor"), 4))
        .df
    },
    // ---- §2.5 is_monotonic per key --------------------------------------
    "q85_is_monotonic" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev", lag(col("value"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(min(when(col("prev").isNull, true).otherwise(col("value") >= col("prev")))
          .as("monotonic_inc"))
    },
    // ---- §2.5 Len fast path (metadata-only count) -----------------------
    "q86_len" -> { (s, dir) =>
      // parquet aggregate pushdown answers this from footers — the
      // reference's Len-from-statistics rewrite (`_reductions.py:1048`)
      t(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"))
    },
    // ---- §2.5 series autocorr (corr with lag-1) -------------------------
    "q87_autocorr" -> { (s, dir) =>
      // lag via MapOverlap ghost rows, not a global (single-task) window
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .select(col("ts"), col("event_id"), col("value"))
      graft.operators.MapOverlap.shift(ev, "value", 1, "prev")
        .agg(round(corr(col("value"), col("prev")), 4).as("autocorr"))
    },

    // ---- §2.9 .cat accessor: categorize → dictionary codes --------------
    "q88_categorize" -> { (s, dir) =>
      graft.functions.CatFunctions.categorize(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderpriority", "prio_code")
        .select(col("o_orderkey"), col("o_orderpriority"), col("prio_code"))
    },
    // ---- §2.8 Series.dot (exact integer-scaled) -------------------------
    "q89_series_dot" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .agg(sum(round(col("l_discount") * 100).cast("long") *
          col("l_quantity").cast("long")).as("dot_scaled"))
    },
    // ---- §2.11 stats: one-sample t statistic ----------------------------
    "q90_ttest" -> { (s, dir) =>
      t(s, dir, "lineitem").agg(
        round((avg(col("l_quantity")) - 25.5) /
          (stddev_samp(col("l_quantity")) / sqrt(count(col("l_quantity")))), 4)
          .as("t_stat"))
    },

    // ---- §2.9 str split(expand) / partition / find / title --------------
    "q91_str_split_expand" -> { (s, dir) =>
      import graft.functions.StrFunctions
      val parts = StrFunctions.partition(col("p_type"), " ")
      t(s, dir, "part").select(
        col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("tok0"),
        split(col("p_name"), " ").getItem(1).as("tok1"),
        parts.getField("head").as("part_head"),
        parts.getField("sep").as("part_sep"),
        parts.getField("tail").as("part_tail"),
        StrFunctions.find(col("p_name"), "o").cast("int").as("find_o"),
        StrFunctions.title(col("p_brand")).as("brand_title"))
    },

    // ---- end-to-end LLM training-data pipeline composition --------------
    // quality-filter → language-ID → near-dup removal → per-language stats:
    // the north-star pipeline, composed from the operators above in one
    // declarative plan (single scan feeds every stage; dedup is the only
    // shuffle)
    "q92_pipeline" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val scored = graft.operators.TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .filter(col("quality_score") >= 0.4)
      val lang = graft.operators.TextAnalysis.langId(scored, "text")
        .withColumn("dup_key", graft.operators.Dedup.canonicalKey(col("text"), exact = false))
      val w = Window.partitionBy(col("dup_key")).orderBy(col("doc_id"))
      lang.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    },

    // ---- §2.11 np.gradient (central difference via ghost rows) ----------
    "q96_gradient" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .select(col("event_id"), col("ts"), col("value"))
      graft.operators.MapOverlap.gradient(ev, "value", "grad")
        .select(col("event_id"), round(col("grad"), 4).as("grad"))
    },

    // ---- §2.11 histogram2d ----------------------------------------------
    "q95_histogram2d" -> { (s, dir) =>
      graft.operators.ArrayAlgs.histogram2d(t(s, dir, "lineitem"),
        "l_quantity", "l_discount", 0.0, 50.0, 0.0, 0.1, 5, 4)
    },

    // ---- §2.5 groupby transform (agg broadcast back to rows) ------------
    "q94_group_transform" -> { (s, dir) =>
      g(s, dir, "events")
        .assign("cents", round(col("value") * 100).cast("long"))
        .groupby("user_id")
        .transform("cents", "sum", "user_total_cents")
        .select("event_id", "user_total_cents")
        .df
    },

    // ---- SQL interface (free superset: dask has no SQL front end) -------
    "q93_sql" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      // TPC-H Q6 shape through the SQL parser — identical Catalyst plan
      // to the DataFrame form
      s.sql(
        """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
          |FROM lineitem_v
          |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          |  AND l_shipdate < TIMESTAMP '1996-01-01'
          |  AND l_discount BETWEEN 0.05 AND 0.07
          |  AND l_quantity < 24""".stripMargin)
    },

    // ---- §2.1 seeded demo generator (dask.datasets.timeseries) ----------
    "q69_timeseries" -> { (s, dir) =>
      // x·2⁵² is an exact integer (x = (2k−2⁵³)/2⁵³ for the 53-bit hash
      // value k), so summing those integers as decimals is bit-identical
      // in any engine and any partition order — the float sums themselves
      // would be accumulation-order sensitive.  mean/sum are recovered
      // from the exact integer sums in one deterministic double division.
      graft.sources.Timeseries(s, startEpochSec = 946684800L, rows = 100000L,
          freqSec = 1, seed = 42L, numPartitions = 8)
        .assign("x52" -> (col("x") * lit(4503599627370496.0)).cast("decimal(38,0)"),
          "y52" -> (col("y") * lit(4503599627370496.0)).cast("decimal(38,0)"))
        .groupby("name")
        .aggAliased(("x52", "sum", "sx"), ("y52", "sum", "sy"), ("id", "count", "n"))
        .assign("mean_x" ->
            round(col("sx").cast("double") / lit(4503599627370496.0) / col("n"), 4),
          "sum_y" -> round(col("sy").cast("double") / lit(4503599627370496.0), 4))
        .select("name", "mean_x", "sum_y", "n")
        .df
    },

    // ---- §2.5 groupby idxmin/idxmax (deterministic struct ordering) -----
    "q97_group_idxminmax" -> { (s, dir) =>
      val li = g(s, dir, "lineitem")
      val mx = li.groupby("l_returnflag").idxmax("l_extendedprice", "l_orderkey", "idx_max_price")
      val mn = li.groupby("l_returnflag").idxmin("l_extendedprice", "l_orderkey", "idx_min_price")
      mx.merge(mn, on = Seq("l_returnflag"), how = "inner").df
    },
    // ---- §2.5 per-group multi-nunique (q10 lesson: two pruned
    // single-distinct aggregates + join, not one Expand-based multi-DISTINCT)
    "q98_group_nunique" -> { (s, dir) =>
      val li = g(s, dir, "lineitem")
      val a = li.groupby("l_returnflag").nunique("l_partkey", "n_parts")
      val b = li.groupby("l_returnflag").nunique("l_suppkey", "n_supps")
      a.merge(b, on = Seq("l_returnflag"), how = "inner").df
    },
    // ---- §2.5 per-group higher moments + sem ----------------------------
    "q99_group_moments" -> { (s, dir) =>
      g(s, dir, "lineitem").groupby("l_returnflag")
        .aggAliased(("l_discount", "skew", "skew_disc"),
          ("l_discount", "kurt", "kurt_disc"), ("l_quantity", "sem", "sem_qty"))
        .assign("skew_disc", round(col("skew_disc"), 4))
        .assign("kurt_disc", round(col("kurt_disc"), 4))
        .assign("sem_qty", round(col("sem_qty"), 4))
        .df
    },
    // ---- §2.3 index-aligned binop + combine_first (dask OpAlignPartitions)
    "q100_align_binop" -> { (s, dir) =>
      val cust = g(s, dir, "customer").groupby("c_nationkey")
        .aggAliased(("c_acctbal", "sum", "bal")).rename("c_nationkey" -> "nationkey")
        .withIndex("nationkey")
      val supp = g(s, dir, "supplier").groupby("s_nationkey")
        .aggAliased(("s_acctbal", "sum", "bal")).rename("s_nationkey" -> "nationkey")
        .withIndex("nationkey")
      cust.alignedBinop(supp, "bal", "bal", "bal_sum")(_ + _)
        .assign("bal_sum", round(col("bal_sum"), 2))
        .select("nationkey", "bal_sum")
        .df
    },
    // ---- §2.3 clip / mask elementwise ------------------------------------
    "q101_clip_mask" -> { (s, dir) =>
      g(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .assign("capped", col("o_totalprice"))
        .clip("capped", 50000, 250000)
        .assign("masked", col("o_totalprice"))
        .mask("masked", col("o_orderstatus") === "F", lit(-1.0))
        .select("o_orderkey", "capped", "masked")
        .df
    },
    // ---- §2.5 qcut: quantile binning (exact quartiles, one percentile
    // pass, broadcast of the 1-row cut-point frame — no driver round trip)
    "q102_qcut" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // r14: same single-task-merge removal as q12 — the raw quartiles
      // come from the distributed sort (bit-identical to the builtin),
      // and the rounding stays IN the plan so round() semantics are
      // untouched
      val pv = graft.operators.Quantile.exact(
        li, "l_extendedprice", Seq(0.25, 0.5, 0.75))
      val qs = s.range(1)
        .select(round(lit(pv(0)), 2).as("q1"),
          round(lit(pv(1)), 2).as("q2"),
          round(lit(pv(2)), 2).as("q3"))
      li.crossJoin(broadcast(qs))
        .select(when(col("l_extendedprice") <= col("q1"), 0)
          .when(col("l_extendedprice") <= col("q2"), 1)
          .when(col("l_extendedprice") <= col("q3"), 2)
          .otherwise(3).cast("int").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    },
    // ---- ext: exact bigram Jaccard near-dups (length-band blocking) -----
    "q103_jaccard_neardups" -> { (s, dir) =>
      graft.operators.Dedup.jaccardNearDupPairs(t(s, dir, "documents"),
          "doc_id", "text", blockCols = Seq("lang"), bandWidth = 16,
          threshold = 0.5, ngram = 2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    },
    // ---- ext: IVF ANN (cell assignment → probe → cell-local re-rank) ----
    "q104_ann_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.ivfTopK(emb,
          emb.filter(col("vec_id").between(100, 104)),
          emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 4).as("sim"), col("rk"))
    },
    // ---- §2.6 per-key rolling median (window-able exact percentile) -----
    "q105_rolling_median" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      new graft.api.GRolling(ev, 4, Seq("ts", "event_id"), Seq("user_id"), 1)
        .median("value", "roll_med")
        .select(col("event_id"), round(col("roll_med"), 4).as("roll_med"))
    },
    // ---- §2.8 bag product (cartesian) ------------------------------------
    "q106_product" -> { (s, dir) =>
      val a = g(s, dir, "region").select("r_name").rename("r_name" -> "name_a")
      val b = g(s, dir, "region").select("r_name").rename("r_name" -> "name_b")
      a.crossJoin(b).df
    },
    // ---- §2.3 pandas query()/eval() string expressions -------------------
    "q107_eval_query" -> { (s, dir) =>
      g(s, dir, "orders")
        .query("o_orderstatus = 'O' and o_totalprice > 200000")
        .eval("price_k", "floor(o_totalprice / 10 + 0.5) / 100")
        .select("o_orderkey", "price_k")
        .df
    },
    // ---- §2.6 rolling corr between two columns (per-key window) ---------
    "q108_rolling_corr" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("sec", unix_micros(col("ts").cast("timestamp")).cast("double") / 1e6)
      new graft.api.GRolling(ev, 8, Seq("ts", "event_id"), Seq("user_id"), 1)
        .corrWith("value", "sec", "roll_corr")
        // + 0.0 folds IEEE −0.0 to +0.0 (DuckDB's round yields −0.0 on
        // tiny negative corr, Spark's BigDecimal round does not)
        .select(col("event_id"), (round(col("roll_corr"), 4) + 0.0).as("roll_corr"))
    },
    // ---- §2.10 row-wise Scala UDF (df.apply axis=1 / Series.map(fn)) ----
    "q109_rowwise_udf" -> { (s, dir) =>
      val discPrice = udf((p: Double, d: Double) => math.floor(p * (1 - d) * 100 + 0.5) / 100)
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        discPrice(col("l_extendedprice"), col("l_discount")).as("disc_price"))
    },
    // ---- §2.11 chi-square goodness-of-fit (array/stats.py family) -------
    "q110_chisquare" -> { (s, dir) =>
      val c = t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("double").as("obs"))
      val tot = c.agg(sum(col("obs")).as("tot"), count(lit(1)).cast("double").as("k"))
      c.crossJoin(broadcast(tot))
        .agg(round(sum(pow(col("obs") - col("tot") / col("k"), 2) /
          (col("tot") / col("k"))), 4).as("chi2"))
    },
    // ---- §2.6 resample with holistic aggs (nunique + exact median) ------
    "q111_resample_holistic" -> { (s, dir) =>
      graft.operators.Resample.agg(t(s, dir, "events"), "ts", 3600,
        Seq("n_users" -> countDistinct(col("user_id")),
          "med_value" -> round(percentile(col("value"), lit(0.5)), 4)))
    },
    // ---- §2.6 GLOBAL time-range rolling (value-based MapOverlap ghosts;
    // integer cents so the moving sum is exact at any accumulation order)
    "q112_rolling_range_global" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .withColumn("__ord", unix_micros(col("ts").cast("timestamp")).cast("double") / 1e6)
        .withColumn("cents", round(col("value") * 100).cast("long").cast("double"))
        .select(col("event_id"), col("__ord"), col("cents"))
      graft.operators.MapOverlap.rollingRangeAgg(ev, "cents", "__ord", 600.0, "range_sum")(_.sum)
        .select(col("event_id"), col("range_sum").cast("long").as("range_sum"))
    },
    // ---- §2.6 per-key rolling skew (pandas adjusted G1 = DuckDB skewness)
    "q113_rolling_skew" -> { (s, dir) =>
      new graft.api.GRolling(t(s, dir, "events"), 6, Seq("ts", "event_id"),
          Seq("user_id"), 3)
        .skew("value", "roll_skew")
        // + 0.0 folds IEEE −0.0 to +0.0 (DuckDB round on tiny negatives)
        .select(col("event_id"), (round(col("roll_skew"), 4) + 0.0).as("roll_skew"))
    },
    // ---- ext: near-dup pairs → transitive clusters → keep decision
    // (alternating large-star/small-star connected components)
    "q120_dedup_clusters" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
        blockCols = Seq("lang"), bandWidth = 16, threshold = 0.5, ngram = 2)
      graft.operators.Dedup.dedupClusters(docs, pairs, "doc_id", "id_a", "id_b")
    },
    // ---- ext: top-3 TF-IDF terms per document ---------------------------
    "q121_tfidf" -> { (s, dir) =>
      graft.operators.TextAnalysis.tfidf(t(s, dir, "documents"), "doc_id", "text", k = 3)
    },
    // ---- ext: PII/boilerplate scrub (typed placeholders + hit counts) ---
    "q122_scrub" -> { (s, dir) =>
      graft.operators.TextAnalysis.scrub(t(s, dir, "documents"), "doc_id", "text")
    },
    // ---- §2.9 math ufunc surface (composed numpy semantics, all codegen)
    "q123_ufuncs" -> { (s, dir) =>
      import graft.functions.{Ufuncs => U}
      val a = col("l_quantity"); val b = col("l_discount")
      val c = col("l_extendedprice"); val d = col("l_tax") - 0.04
      // half-up 6-decimal rounding in pure double arithmetic: Spark's
      // round() allocates a BigDecimal PER VALUE on doubles (18 cols ×
      // rows of them dominated this query's runtime); floor-based rounding
      // stays inside codegen and is bit-identical in DuckDB
      def r6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        r6(U.sin(a)).as("sin_a"),
        r6(U.arctan2(a, b + 1.0)).as("atan2_ab"),
        r6(U.log1p(c)).as("log1p_c"),
        r6(U.expm1(b)).as("expm1_b"),
        r6(U.log2(c)).as("log2_c"),
        r6(U.cbrt(c)).as("cbrt_c"),
        r6(U.deg2rad(a)).as("rad_a"),
        r6(U.rad2deg(b)).as("deg_b"),
        r6(U.hypot(a, b * 10.0)).as("hyp"),
        r6(U.logaddexp(a / 10.0, b)).as("lae"),
        U.sign(d).as("sgn"),
        r6(U.copysign(a, d)).as("csign"),
        // integer-cent operand: DuckDB's fmod is a - trunc(a/b)·b, which
        // differs from C fmod by 1 ulp when a ≈ k·b; on integer-valued
        // doubles both forms are exact and identical
        r6(U.fmod(floor(c * 100 + 0.5), lit(7.0))).as("fm"),
        r6(U.mod(d * 100.0, lit(7.0))).as("pm"),
        // + 0.0 collapses IEEE signed zero: DuckDB trunc keeps -0.0 (numpy
        // semantics) while Spark's emits +0.0 — normalize BOTH sides
        (U.trunc(d * 10.0) + lit(0.0)).as("tr"),
        r6(U.square(b)).as("sq"),
        r6(U.reciprocal(b + 1.0)).as("recip"),
        r6(U.sinc(b)).as("sinc_b"),
        U.heaviside(d, lit(0.5)).as("hv"))
    },
    // ---- §2.11 random distribution suite (portable hash-derived) --------
    "q124_random" -> { (s, _) =>
      graft.sources.RandomData.frame(s, 2000, seed = 7)
        .select(col("id").as("rid"), col("u"),
          round(col("gauss"), 4).as("gauss"),
          round(col("expo"), 4).as("expo"),
          round(col("logn"), 4).as("logn"),
          col("ri"), col("pick"), col("bern"), col("pois"))
    },
    // ---- §2.8 interleaved concat (overlapping ranges) + order-dependent
    // consumer: the global cumsum only matches the oracle if the merge
    // actually restored one global sorted order
    "q125_concat_interleaved" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select(col("event_id"), col("ts"), col("cents"))
      val a = new GDF(ev.filter(col("event_id") % 2 === 0),
        Some(IndexMeta(Seq("ts", "event_id"), sorted = false)))
      val b = new GDF(ev.filter(col("event_id") % 2 =!= 0),
        Some(IndexMeta(Seq("ts", "event_id"), sorted = false)))
      a.concatInterleaved(b)
        .cumsum("cents", "running")
        .select("event_id", "running")
        .df
    },
    // ---- ext: distributed Lloyd's k-means (IVF codebook training) -------
    "q126_kmeans" -> { (s, dir) =>
      graft.operators.Similarity.kmeans(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2)
    },

    // ---- §2.11 stats module (dask/array/stats.py:91-455 parity) ---------
    "q127_ttest_ind" -> { (s, dir) =>
      import graft.operators.Stats
      val li = t(s, dir, "lineitem")
      val pooled = Stats.ttestInd(li, "l_quantity", col("l_returnflag") === "A", equalVar = true)
        .select(round(col("t_stat"), 4).as("t_pooled"), col("df").cast("long").as("df_pooled"))
      val welch = Stats.ttestInd(li, "l_quantity", col("l_returnflag") === "A", equalVar = false)
        .select(round(col("t_stat"), 4).as("t_welch"), round(col("df"), 4).as("df_welch"))
      pooled.crossJoin(welch)
    },
    "q128_ttest_rel" -> { (s, dir) =>
      import graft.operators.Stats
      val li = t(s, dir, "lineitem")
        .withColumn("net", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .withColumn("taxed", col("l_extendedprice") * (lit(1.0) - col("l_tax")))
      Stats.ttestRel(li, "net", "taxed")
        .select(round(col("t_stat"), 4).as("t_stat"), col("df").cast("long").as("df"))
    },
    "q129_f_oneway" -> { (s, dir) =>
      import graft.operators.Stats
      Stats.fOneway(t(s, dir, "lineitem"), "l_quantity", "l_returnflag")
        .select(round(col("f_stat"), 4).as("f_stat"),
          col("df_between").cast("long").as("df_between"),
          col("df_within").cast("long").as("df_within"))
    },
    "q130_power_divergence" -> { (s, dir) =>
      import graft.operators.Stats
      val counts = t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("double").as("obs"))
      def stat(lam: Double, name: String) =
        Stats.powerDivergence(counts, "obs", lambda_ = lam)
          .select(round(col("stat"), 4).as(name))
      stat(0.0, "g_test")
        .crossJoin(stat(-0.5, "freeman_tukey"))
        .crossJoin(stat(2.0 / 3.0, "cressie_read"))
    },
    "q131_normaltest" -> { (s, dir) =>
      import graft.operators.Stats
      val li = t(s, dir, "lineitem")
      // l_quantity is integer-valued → exact BIGINT power-sum moments:
      // order-independent accumulation, bit-identical at any scale
      Stats.skewtest(li, "l_quantity", exactIntegral = true)
        .select(round(col("z_stat"), 4).as("z_skew"))
        .crossJoin(Stats.kurtosistest(li, "l_quantity", exactIntegral = true)
          .select(round(col("z_stat"), 4).as("z_kurt")))
        .crossJoin(Stats.normaltest(li, "l_quantity", exactIntegral = true)
          .select(round(col("k2_stat"), 4).as("k2")))
    },

    // ---- ext: sketch→verify heavy hitters (exact result, narrow pass 1) --
    "q132_heavyhitters" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("token"))
        .filter(col("token") =!= "")
      graft.operators.Sketches.heavyHitters(toks, "token", k = 15, budget = 512)
    },

    // ---- ext: product quantization ADC top-k (seeded codebook so the
    // encode + lookup-table + fold pipeline is bit-replicable in DuckDB) --
    "q133_pq_topk" -> { (s, dir) =>
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", numSub = 4, k = 4, iters = 0)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      val queries = emb.filter(col("vec_id") < 3)
      Similarity.pqTopK(codes, queries, cb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 4).as("score"), col("rk"))
    },

    // ---- ext: Gopher-style repetition filters (top-word / dup-word /
    // dup-bigram fractions; one explode per gram size, map-side combined)
    "q134_repetition" -> { (s, dir) =>
      graft.operators.TextAnalysis.repetitionMetrics(
        t(s, dir, "documents"), "doc_id", "text")
    },
    // ---- ext: benchmark decontamination (distinct 4-gram overlap vs the
    // src0 "eval set"; bench grams broadcast, corpus side never shuffles)
    "q135_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 4, minOverlap = 1)
    },
    // ---- §2.11 numpy nan-reduction family (NaN→NULL remap keeps the
    // partial→final agg shape; nansum of all-NaN = 0.0)
    "q136_nan_reductions" -> { (s, dir) =>
      import graft.functions.{Ufuncs => U}
      val li = t(s, dir, "lineitem").withColumn("v",
        when(col("l_orderkey") % 7 === 0, lit(Double.NaN))
          .otherwise(col("l_quantity")))
      li.groupBy(col("l_returnflag")).agg(
        round(U.nansum(col("v")), 4).as("nsum"),
        round(U.nanmean(col("v")), 4).as("nmean"),
        U.nanmin(col("v")).as("nmin"),
        U.nanmax(col("v")).as("nmax"),
        round(U.nanstd(col("v")), 4).as("nstd"),
        sum(when(U.isnan(col("v")), 1L).otherwise(0L)).as("n_nan"))
    },
    // ---- §2.11 distributed least squares (lstsq/solve family): one
    // treeAggregate builds AᵀA + Aᵀy; driver solves the tiny p×p system.
    // Oracle: the closed-form 2-regressor OLS via covariance algebra.
    "q137_lstsq" -> { (s, dir) =>
      // integer-scaled model (quantity units, discount cents, price
      // cents): the normal equations accumulate as exact BIGINTs —
      // order-independent, so β is reproducible at any scale; the float
      // form drifted at the 4th decimal once sums grew 40×
      val li = t(s, dir, "lineitem").select(
        array(col("l_quantity"), round(col("l_discount") * 100)).as("x"),
        round(col("l_extendedprice") * 100).as("y"))
      val beta = graft.operators.Linalg.lstsq(li, "x", "y", intercept = true,
        exactIntegral = true)
      def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
      import s.implicits._
      Seq((r4(beta(0)), r4(beta(1)), r4(beta(2)))).toDF("b0", "b1", "b2")
    },
    // ---- §2.11 np.histogramdd: N-dim joint binning, one composite-key agg
    "q138_histogramdd" -> { (s, dir) =>
      graft.operators.ArrayAlgs.histogramDd(t(s, dir, "lineitem"), Seq(
        ("l_quantity", 0.0, 50.0, 5),
        ("l_discount", 0.0, 0.1, 5),
        ("l_tax", 0.0, 0.08, 4)))
    },
    // global (un-keyed) expanding via the two-phase prefix scan — four
    // aggregates in ONE pass, no unpartitioned window anywhere in the plan
    "q139_expanding_global" -> { (s, dir) =>
      // integer-cents contract (value is an exact 2-decimal column): the
      // expanding mean/var derive from exact Long power sums, which are
      // order-independent — the Chan-merged double path varies in the
      // last ulps with partition boundaries, visible at 10⁶+ rows
      val ev = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select(col("event_id"), col("ts"), col("cents"))
      graft.operators.Expanding.aggs(ev, "cents", Seq("ts", "event_id"),
          Seq("exp_mean" -> "mean", "exp_var" -> "var",
            "exp_min" -> "min", "exp_cnt" -> "count"))
        .select(col("event_id"),
          (floor(col("exp_mean") * 1e6 + 0.5) / 1e6).as("exp_mean"),
          (floor(col("exp_var") * 1e6 + 0.5) / 1e6).as("exp_var"),
          col("exp_min"), col("exp_cnt"))
    },
    // ---- §2.6 GLOBAL rolling corr between two columns (MapOverlap
    // pair-moment ghost kernel — an un-partitioned SQL window is one
    // task).  corr of value vs its global lag-1, in integer cents: every
    // window sum is an exact integer on both sides, so the oracle can
    // state zero variance EXACTLY (n·Σx² = (Σx)², matching the kernel's
    // deque extrema check → NaN) — DuckDB's own incremental corr wobbles
    // past ±1 on collinear windows, so the oracle computes from explicit
    // sums instead.  Two ghost-row narrow passes (shift, then the pair
    // kernel), no unpartitioned window anywhere.
    "q140_rolling_corr_global" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .withColumn("cents", round(col("value") * 100))
        .select(col("event_id"), col("ts"), col("cents"))
      val withPrev = graft.operators.MapOverlap.shift(ev, "cents", 1, "prev_cents")
      new graft.api.GRolling(withPrev, 8, Seq("ts", "event_id"), Seq(), 1)
        .corrWith("cents", "prev_cents", "roll_corr")
        .select(col("event_id"), (round(col("roll_corr"), 4) + 0.0).as("roll_corr"))
    },
    // ---- ext: REAL multimodal decode — per doc, a 15x8 24-bit BMP and a
    // 200-sample PCM16 WAV are ENCODED from an id-derived byte pattern
    // and DECODED back with the pure-JVM parsers (bottom-up rows, BGR,
    // row padding, RIFF chunk walk); the oracle computes the same pixel/
    // sample statistics directly from the pattern, so any decode error
    // (row order, channel order, padding, chunk offsets) breaks the hash.
    // All stats are exact integer sums; means are one final division.
    "q141_multimodal_decode" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      val ids = t(s, dir, "documents").select(col("doc_id").cast("long").as("media_id"))
      val outSchema = StructType(Seq(
        StructField("media_id", LongType), StructField("w", IntegerType),
        StructField("h", IntegerType), StructField("mean_r", DoubleType),
        StructField("mean_g", DoubleType), StructField("mean_b", DoubleType),
        StructField("wsum", LongType), StructField("n_samp", LongType),
        StructField("mean_s", DoubleType), StructField("ssq", LongType)))
      val rdd = ids.rdd.map { r =>
        // module accessed by full path INSIDE the lambda: an outer alias
        // val would capture the (non-serializable) module instance
        val mm = graft.operators.Multimodal
        val id = r.getLong(0)
        val rgb = Array.tabulate(360)(k => ((id * 7 + k * 13) % 256).toByte)
        val samples = Array.tabulate(200)(k => ((id * 31 + k * 17) % 65536 - 32768).toShort)
        val (w, h, px) = mm.decodeBmp24(mm.encodeBmp24(15, 8, rgb))
        val (_, samp) = mm.decodeWavPcm16(mm.encodeWavPcm16(8000, samples))
        var sr = 0L; var sg = 0L; var sb = 0L; var ws = 0L
        var k = 0
        while (k < px.length) {
          val v = px(k) & 0xFF
          (k % 3) match { case 0 => sr += v; case 1 => sg += v; case _ => sb += v }
          ws += k.toLong * v
          k += 1
        }
        var sm = 0L; var ssq = 0L
        var i = 0
        while (i < samp.length) { sm += samp(i); ssq += samp(i).toLong * samp(i); i += 1 }
        org.apache.spark.sql.Row(id, w, h, sr / 120.0, sg / 120.0, sb / 120.0,
          ws, samp.length.toLong, sm / 200.0, ssq)
      }
      s.createDataFrame(rdd, outSchema)
    },
    // ---- streaming: sessionize batch-replay — the REAL streaming
    // pipeline (file source → mapGroupsWithState → memory sink) runs over
    // the events table as one micro-batch; each user's emitted row is the
    // state after the fold = its LAST session, which the oracle replays
    // as gaps-and-islands SQL.  value travels as integer cents so the
    // session total is exact under any fold order; the engine truncates
    // event time to whole seconds (getTime/1000), mirrored by floor().
    "q142_sessionize_replay" -> { (s, dir) =>
      import s.implicits._
      val src = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100).as("value"))
      replayRun(s) { (runDir, run) =>
        val inPath = s"$runDir/sess_in"
        src.write.mode("overwrite").parquet(inPath)
        val stream = s.readStream.schema(src.schema).parquet(inPath)
          .as[graft.streaming.StreamOps.SessionEvent]
        // the post-batch watermark advance fires event-time timeouts, which
        // re-emit a user's final session unchanged (same state snapshot) —
        // the update-mode sink receives both, so dedupe exactly
        drainReplay(graft.streaming.StreamOps.sessionize(stream, gapSeconds = 43200L).toDF(),
          runDir, "q142_sessions", run, "update") { f =>
          f.select(col("user_id"), col("n_events"),
              col("total").cast("long").as("total_cents"))
            .distinct()
        }
      }
    },
    // ---- ext: exact duplicated-span scrub (Lee et al. substring dedup):
    // tokens whose surrounding 8-gram occurs in >= 2 distinct docs are
    // dropped and the text re-joined.  One gram-hash shuffle + per-doc
    // positional filter; the oracle replays it on string grams (hash vs
    // string equality observationally equivalent, as in q135).
    "q143_dedup_spans" -> { (s, dir) =>
      graft.operators.TextAnalysis.dedupSpans(
        t(s, dir, "documents"), "doc_id", "text", k = 8)
    },
    // ---- ext: streaming windowed agg with REAL late-data handling.
    // Four deterministic micro-batches (file mtime order +
    // maxFilesPerTrigger=1): on-time events; one "advancer" row pinned
    // AT the global max event time; the event_id%4==0 slice arriving
    // two batches LATE; one far-future flush row so the final watermark
    // closes every real window and append mode emits each exactly once.
    // The engine drops a late row iff its window's END has passed the
    // watermark the stateful operator sees during the late batch — the
    // watermark commits one batch EARLIER than the progress report
    // (asserted directly by graft.streaming.WatermarkConventionSpec,
    // which fails with a pointed message on an engine-upgrade change),
    // which is why the advancer is pinned at maxTs (not beyond) and the
    // max-ts row is forced into batch 1: both conventions then agree
    // the cutoff is exactly max(ts) − 2 h, and the oracle replays
    // `window_end > max(ts) − 2h` literally.  The
    // flush row's own window never closes, so it never reaches the
    // sink; the advancer row is mirrored in the oracle's kept set.
    "q144_windowed_agg_late" -> { (s, dir) =>
      import s.implicits._
      val src = t(s, dir, "events").select(
        col("event_id").cast("long").as("event_id"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      replayRun(s) { (runDir, run) =>
        val watch = s"$runDir/wagg_in"
        val maxTs = src.agg(max(col("ts"))).head.getTimestamp(0)
        def syn(id: Long, offMs: Long) =
          Seq((id, new java.sql.Timestamp(maxTs.getTime + offMs), 0L))
            .toDF("event_id", "ts", "cents")
        val base = java.lang.System.currentTimeMillis()
        writeStreamFile(src.filter(col("event_id") % 4 =!= 0 || col("ts") === lit(maxTs)),
          watch, "b1", base - 40000)
        writeStreamFile(syn(-1L, 0L), watch, "b2", base - 30000)
        writeStreamFile(src.filter(col("event_id") % 4 === 0 && col("ts") < lit(maxTs)),
          watch, "b3", base - 20000)
        writeStreamFile(syn(-2L, 90L * 24 * 3600 * 1000), watch, "b4", base - 10000)
        val stream = s.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", "1").parquet(watch)
        drainReplay(
          graft.streaming.StreamOps.windowedAgg(stream, "ts", "1 hour", "2 hours", "cents"),
          runDir, "q144_wagg", run, "append") { f =>
          f.filter(col("ts") <= lit(maxTs))
            .select(col("ts"), col("n"), col("sum_value"))
        }
      }
    },
    // ---- ext: streaming exact dedup replayed through the REAL
    // dropDuplicatesWithinWatermark operator across two micro-batches
    // (cross-batch state hits: every b2 row whose key appeared in b1
    // must be dropped by the state store, not a batch-local distinct).
    // The 90-day delay exceeds the fixture's span, so no state is
    // evicted and no row is late → exactly one output row per distinct
    // key, which a batch DISTINCT oracles.  (Watermark EVICTION — a
    // re-emit after state expiry — is pinned by a unit test with
    // controlled timestamps; it is batch-boundary-dependent and has no
    // deterministic batch replica.)
    "q145_dedup_replay" -> { (s, dir) =>
      val src = t(s, dir, "events").select(
        col("event_id").cast("long").as("event_id"),
        col("ts").cast("timestamp").as("ts"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"))
      replayRun(s) { (runDir, run) =>
        val watch = s"$runDir/dedup_in"
        val base = java.lang.System.currentTimeMillis()
        writeStreamFile(src.filter(col("event_id") % 5 =!= 0), watch, "b1", base - 10000)
        writeStreamFile(src.filter(col("event_id") % 5 === 0), watch, "b2", base)
        val stream = s.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", "1").parquet(watch)
        drainReplay(
          graft.streaming.StreamOps.dedupStream(stream, "ts", "90 days", Seq("user_id", "event_type")),
          runDir, "q145_dedup", run, "append") { f =>
          f.select(col("user_id"), col("event_type"))
        }
      }
    },
    // ---- ext: stream-static broadcast enrichment (left join keeps
    // stream rows with no dimension match), replayed through the real
    // engine; the memory-sink rows are then aggregated per segment so
    // the oracle is a plain LEFT JOIN + GROUP BY.  cents are exact.
    "q146_enrich_replay" -> { (s, dir) =>
      val src = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      val dim = t(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0) // 1/3 of stream rows miss → nulls
        .select(col("c_custkey").cast("long").as("user_id"), col("c_mktsegment"))
      replayRun(s) { (runDir, run) =>
        val watch = s"$runDir/enrich_in"
        writeStreamFile(src, watch, "b1", java.lang.System.currentTimeMillis())
        val stream = s.readStream.schema(src.schema).parquet(watch)
        // the finishing aggregate runs over the DISTRIBUTED sink files, so
        // only the per-segment result (a handful of rows) is retained —
        // the memory sink previously held one driver row per EVENT
        drainReplay(graft.streaming.StreamOps.enrich(stream, dim, Seq("user_id")),
          runDir, "q146_enrich", run, "append") { f =>
          f.groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        }
      }
    },
    // ---- §2.11 blocked LU (`dask/array/linalg.py:978` — the last linalg
    // descope, lifted): a 4×4 integer matrix from lineitem aggregates,
    // factored by the DISTRIBUTED blocked kernel (2×2 blocks → two
    // elimination rounds exercise the panel solves + trailing update),
    // determinant read off the U diagonal.  Entries < 200 keep the det
    // ≪ 2⁵³, so the double arithmetic rounds back to the exact integer
    // the oracle computes by BIGINT cofactor expansion — exact at any
    // scale because the matrix entries are mod-97 BIGINT sums.
    "q147_lu_det" -> { (s, dir) =>
      val cells = t(s, dir, "lineitem")
        .groupBy((col("l_orderkey") % 4).cast("int").as("i"),
          (col("l_suppkey") % 4).cast("int").as("j"))
        .agg((sum(col("l_quantity").cast("long")) % 97).as("v"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val n = 4
      val dense = Array.tabulate(n * n) { idx =>
        val c = idx / n; val r = idx % n
        (cells.getOrElse((r, c), 0L) + (if (r == c) 100L else 0L)).toDouble
      }
      val luR = graft.operators.Linalg.lu(
        graft.operators.Linalg.denseToBlocks(s, dense, n, 2), 2)
      import s.implicits._
      Seq(math.round(luR.det())).toDF("det4")
    },

    // ---- deterministic stratified sampling (corpus mixing) --------------
    // Per-language keep rates over documents: downsample the dominant
    // language, keep a rare one whole (rate 1.0), drop an unlisted one
    // (zh) — the data-mixing op of a training pipeline, as a pure
    // content-keyed filter (no shuffle, layout-independent, exercises
    // sampleBy drop-unlisted semantics).
    "q148_stratified_sample" -> { (s, dir) =>
      g(s, dir, "documents")
        .hashSampleBy(col("lang"), col("doc_id"),
          Map("en" -> 0.3, "de" -> 0.8, "es" -> 0.5, "fr" -> 1.0), seed = 2)
        .select("doc_id", "lang").df
    },

    // ---- chunked ndarray module (SURVEY §2.11 blockwise/slicing/rechunk/
    // reshape/transpose/axis-reduction) end-to-end over real table data:
    // build two 1-D arrays from lineitem, elementwise-multiply (blockwise
    // equi-join), reshape to a 2-D grid, transpose (narrow), strided
    // slice, rechunk (scatter shuffle), then reduce an axis away.  Values
    // stay integral so the BIGINT oracle is partitioning-proof.
    "q149_block_pipeline" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      // ONE sorted bridge for both operand columns (fromColumns), then a
      // per-row gufunc product + squeeze — halves the dominant cost (the
      // total-order sort) vs building two 1-D arrays independently
      val ql = GArr.fromColumns(li, Seq("l_quantity", "l_linenumber"),
        liTotalOrder, chunk = 4096)
      val m = ql.applyGufunc(1)(row => Array(row(0) * row(1))).squeeze(1)
      val rows = (ql.shape.head / 100L) * 100L
      val grid = m.slice(Seq((0L, rows, 1L)))
        .reshape(Seq(rows / 100L, 100L), Seq(1024, 32))
      val sl = grid.transpose(Seq(1, 0))
        .slice(Seq((10L, 59L, 2L), (0L, rows / 100L, 1L)))
      sl.rechunk(Seq(7, 2048)).sumAxis(1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("s"))
    },

    // ---- distributed FFT (four-step decimation across blocks): power
    // spectrum of a deterministic integral signal built from the first 128
    // order keys, checked against a direct DFT computed in SQL.  Rounding
    // to integer power leaves ~7 orders of magnitude of slack over the
    // ~1e-7 cross-engine float drift.
    "q150_fft_power" -> { (s, dir) =>
      import graft.operators.{GArr, SpectralFft}
      val sig = t(s, dir, "orders")
        .select(col("o_orderkey")).orderBy("o_orderkey").limit(128)
        .select(col("o_orderkey"),
          (col("o_orderkey") % 97 - 48).cast("double").as("x"))
      val a = GArr.fromColumn(sig, "x", Seq("o_orderkey"), chunk = 16)
      SpectralFft.fft1d(a, targetElems = 32)
        .select(col("k"),
          round(col("re") * col("re") + col("im") * col("im"))
            .cast("long").as("p"))
    },

    // ---- blocked matmul (dask matmul/tensordot 2-D): A (60x40) from
    // l_quantity, B (40x50) from l_linenumber, C = A.B via one join on the
    // contracted block coordinate + one partial->final reduce; oracle is
    // the equivalent relational join-aggregate.
    "q151_block_matmul" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      // sort+limit = TakeOrdered (top-k reduce, NO full shuffle sort):
      // only the 2400/2000 leading rows of the total order are needed, so
      // don't pay a whole-table sort for them — at 40x this is the
      // difference between sorting 240M rows twice and two top-k passes
      val q = GArr.fromColumn(liHead(li, 2400), "l_quantity", liTotalOrder, chunk = 512)
      val ln = GArr.fromColumn(liHead(li, 2000), "l_linenumber", liTotalOrder, chunk = 512)
      val a = q.reshape(Seq(60L, 40L), Seq(16, 16))
      val b = ln.reshape(Seq(40L, 50L), Seq(16, 16))
      a.matmul(b).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- array arg-reduction + concatenate: per-column argmax (first
    // occurrence wins ties — the merge tiebreak the SQL oracle restates as
    // MIN(row) among max rows) and per-column min, concatenated into one
    // 1-D result.  Integral values keep the compare exact.
    "q152_block_argmax" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(li, "l_quantity",
        liTotalOrder, chunk = 4096)
      val rows = (a.shape.head / 100L) * 100L
      val grid = a.slice(Seq((0L, rows, 1L)))
        .reshape(Seq(rows / 100L, 100L), Seq(512, 16))
      GArr.concatenate(0, Seq(grid.argmaxAxis(0), grid.minAxis(0)))
        .toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- array map_overlap (halo exchange) + two-phase prefix scan: a
    // 3-point vertical stencil (edge-truncated) followed by a column
    // cumulative sum across blocks, sampled every 20th column.  The SQL
    // oracle restates both as window functions; integral values keep the
    // whole chain BIGINT-exact under any partitioning.
    "q153_block_cumsum" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(li, "l_quantity",
        liTotalOrder, chunk = 4096)
      val rows = (a.shape.head / 100L) * 100L
      val grid = a.slice(Seq((0L, rows, 1L)))
        .reshape(Seq(rows / 100L, 100L), Seq(512, 16))
      val sten = grid.mapOverlapAxis(0, 1) { (halo, before, after, hdims) =>
        val cols = hdims(1)
        val coreRows = hdims(0) - before - after
        Array.tabulate(coreRows * cols) { idx =>
          val r = before + idx / cols; val c = idx % cols
          (math.max(0, r - 1) to math.min(hdims(0) - 1, r + 1))
            .map(rr => halo(rr * cols + c)).sum
        }
      }
      sten.cumsumAxis(0)
        .slice(Seq((0L, rows / 100L, 1L), (0L, 100L, 20L)))
        .toIndexedDF
        .select(col("idx"), col("value").cast("long").as("s"))
    },

    // ---- array scan family + positional relabels: cummax (generalized
    // two-phase scan), diff (co-partitioned slice subtract), roll
    // (concatenated tail/head slices), flip (zero-shuffle reversal),
    // constant pad, strided sampling.  All-integral chain, BIGINT oracle.
    "q154_block_scan_roll" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(li, "l_quantity", liTotalOrder, chunk = 4096)
      val d = a.cummaxAxis(0).diffAxis(0) // length n-1, >= 0
      val m = d.shape.head
      d.rollAxis(0, 1000L).flipAxis(0).padAxis(0, 3, 2, value = -1.0)
        .slice(Seq((0L, m + 5L, 997L)))
        .toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- nan-skipping reductions + distributed top-k: quantities with
    // NaN injected on l_linenumber >= 5, reshaped to a (rows/100, 100)
    // grid; per-column nansum, non-NaN count (scalarMap∘sumAxis
    // composition), nanmin, and the 3 largest values (NaN -> -1, sorted
    // descending).  Concatenated into one 1-D BIGINT vector.
    "q155_block_nan_topk" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
        .withColumn("qn", when(col("l_linenumber") >= 5, lit(Double.NaN))
          .otherwise(col("l_quantity").cast("double")))
      val a = GArr.fromColumn(li, "qn", liTotalOrder, chunk = 4096)
      val rows = (a.shape.head / 100L) * 100L
      val grid = a.slice(Seq((0L, rows, 1L)))
        .reshape(Seq(rows / 100L, 100L), Seq(512, 16))
      val ns = grid.nansumAxis(0)
      val cnt = grid.scalarMap(v => if (v.isNaN) 0.0 else 1.0).sumAxis(0)
      val mn = grid.nanminAxis(0)
      val top3 = grid.scalarMap(v => if (v.isNaN) -1.0 else v).topkAxis(0, 3)
        .reshape(Seq(300L), Seq(300))
      GArr.concatenate(0, Seq(ns, cnt, mn, top3)).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- numpy gradient (depth-1 halo exchange, x2 so edges and centers
    // are both integral) and broadcast arithmetic (sumAxis -> expand_dims
    // -> broadcast_to -> co-partitioned elemwise subtract), concatenated
    // column-wise and sampled every 20th column.
    "q156_block_gradient_broadcast" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(li, "l_quantity", liTotalOrder, chunk = 4096)
      val rows = (a.shape.head / 100L) * 100L
      val grid = a.slice(Seq((0L, rows, 1L)))
        .reshape(Seq(rows / 100L, 100L), Seq(512, 16))
      val grad2 = grid.gradientAxis(0).scalarMap(_ * 2.0)
      val centered = grid.elemwise(
        grid.sumAxis(0).expandDims(0)
          .broadcastAxis(0, rows / 100L, chunk = 512))(_ - _)
      GArr.concatenate(1, Seq(grad2, centered))
        .slice(Seq((0L, rows / 100L, 1L), (0L, 200L, 20L)))
        .toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- exponentially-weighted moving mean/var (pandas ewm adjust=True,
    // bias=False), distributed as a two-phase decay-composed prefix scan —
    // sampled every 997th row.  alpha=0.5 keeps every decay weight an
    // exact dyadic; outputs are scaled to 1e-4 integers on both sides
    // (engine-vs-oracle drift ~1e-15, 10^11 of slack).  The oracle
    // truncates the lookback at 60 terms (0.5^60 ~ 8.7e-19 — beneath
    // double resolution of every partial sum).
    "q157_ewm" -> { (s, dir) =>
      import graft.operators.Ewm
      val li = t(s, dir, "lineitem").sort(liTotalOrder.map(col): _*)
      Ewm.statsIndexed(li, "l_quantity", alpha = 0.5)
        .where(col("rn") % 997 === 0)
        .select((col("rn") / 997).cast("long").as("idx"),
          floor(col("ewm_mean") * 10000 + lit(0.5)).cast("long").as("m"),
          floor(col("ewm_var") * 10000 + lit(0.5)).cast("long").as("vv"))
    },

    // ---- coarsen -> where -> tensordot chain: block-reduce the quantity
    // grid 2x20 (narrow), sign-select even sums (three-way blockwise
    // where), contract against a 5x3 constant matrix (tensordot), sample
    // every 97th output row.  Pure BIGINT both sides.
    "q159_block_coarsen_tensordot" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(li, "l_quantity", liTotalOrder, chunk = 4096)
      val rows = (a.shape.head / 100L) * 100L
      val r2 = ((rows / 100L) / 2L) * 2L
      val grid = a.slice(Seq((0L, r2 * 100L, 1L))).reshape(Seq(r2, 100L), Seq(512, 20))
      val co = grid.coarsen(Seq(2, 20))(_ + _)
      val w = co.where(
        co.scalarMap(v => if (v % 2.0 == 0.0) 1.0 else 0.0),
        co.scalarMap(v => -v))
      val b = GArr.fromFunction(s, Seq(5L, 3L), Seq(5, 3))(g => (g(0) + g(1) + 1).toDouble)
      w.tensordot(b, Seq(1), Seq(0))
        .slice(Seq((0L, r2 / 2L, 97L), (0L, 3L, 1L)))
        .toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- keyed EWM: groupby(l_returnflag).ewm(0.5).mean()/var() — the
    // grouped prefix scan over the range-arranged keys (Sequential carry),
    // so a key spans partitions; sampled every 997th row per key.
    // Same dyadic-alpha + 1e-4-integer-scaling contract as q157.
    "q158_ewm_keyed" -> { (s, dir) =>
      import graft.operators.Ewm
      val li = t(s, dir, "lineitem")
      Ewm.statsKeyed(li, "l_returnflag", liTotalOrder, "l_quantity", alpha = 0.5)
        .where(col("grn") % 997 === 0)
        .select(col("l_returnflag").as("k"),
          (col("grn") / 997).cast("long").as("idx"),
          floor(col("ewm_mean") * 10000 + lit(0.5)).cast("long").as("m"),
          floor(col("ewm_var") * 10000 + lit(0.5)).cast("long").as("vv"))
    },

    // ---- unadjusted, NA-skipping EWM (pandas ewm(alpha=0.5,
    // adjust=False, ignore_na=True)): the recurrence y=(1-a)y+ax runs as
    // the same two-phase decay-composed scan with the first observation
    // weighted 1 and nulls skipped entirely (no decay).  Nulls injected on
    // l_linenumber >= 6; the oracle restates the closed-form observation-
    // distance weights over a 60-observation truncated lookback (tail
    // < 1e-18, beneath the shared 1e-4 scaling).  Total weight is exactly
    // 1 from the first observation on, so the oracle sums unnormalized.
    "q162_ewm_unadjusted" -> { (s, dir) =>
      import graft.operators.{Ewm, EwmParams}
      val li = t(s, dir, "lineitem").sort(liTotalOrder.map(col): _*)
        .withColumn("qn", when(col("l_linenumber") >= 6, lit(null))
          .otherwise(col("l_quantity").cast("double")))
      Ewm.statsIndexed(li, "qn", EwmParams(0.5, adjust = false, ignoreNa = true))
        .where(col("rn") % 997 === 0 && col("ewm_mean").isNotNull)
        .select((col("rn") / 997).cast("long").as("idx"),
          floor(col("ewm_mean") * 10000 + lit(0.5)).cast("long").as("m"),
          floor(col("ewm_var") * 10000 + lit(0.5)).cast("long").as("vv"))
    },

    // ---- einsum, batched-contraction form (`bij,bjk->bik`): the spec
    // parser lowers onto transpose -> reshape-to-3D -> blocked bmm (one
    // equi-join on (batch, contracted) block coords + one map-side-combined
    // partial->final reduce).  A (4,30,20) from quantity, B (4,20,10) from
    // linenumber; the SQL oracle is the equivalent batch join-aggregate.
    "q160_einsum_bmm" -> { (s, dir) =>
      import graft.operators.{Einsum, GArr}
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(liHead(li, 2400), "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(4L, 30L, 20L), Seq(2, 16, 8))
      val b = GArr.fromColumn(liHead(li, 800), "l_linenumber", liTotalOrder, chunk = 512)
        .reshape(Seq(4L, 20L, 10L), Seq(2, 8, 8))
      Einsum.einsum("bij,bjk->bik", Seq(a, b)).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- einsum index gymnastics: diagonal extraction (`ii->i`), the
    // joint diagonal of a product (`ij,ji->i` — contraction + within-
    // operand alignment), and a trace (`ii->`, scalar as a length-1
    // array), concatenated into one 1-D BIGINT vector.
    "q161_einsum_diag_trace" -> { (s, dir) =>
      import graft.operators.{Einsum, GArr}
      val li = t(s, dir, "lineitem")
      val m = GArr.fromColumn(liHead(li, 3600), "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 60L), Seq(16, 16))
      val n = GArr.fromColumn(liHead(li, 3600), "l_linenumber", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 60L), Seq(16, 16))
      val d = Einsum.einsum("ii->i", Seq(m))
      val dp = Einsum.einsum("ij,ji->i", Seq(m, n))
      val tr = Einsum.einsum("ii->", Seq(n))
      GArr.concatenate(0, Seq(d, dp, tr)).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- 3-operand einsum chain (`ij,jk,kl->il`): exercises the GREEDY
    // contraction-order planner (np.einsum optimize='greedy') — each
    // pairwise step is a blocked matmul, intermediates kept smallest-
    // first.  A (60x40) quantity, B (40x50) linenumber, C (50x30)
    // partkey%10; pure-BIGINT 3-way relational join-aggregate oracle.
    "q163_einsum_chain" -> { (s, dir) =>
      import graft.operators.{Einsum, GArr}
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(liHead(li, 2400), "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 40L), Seq(16, 16))
      val b = GArr.fromColumn(liHead(li, 2000), "l_linenumber", liTotalOrder, chunk = 512)
        .reshape(Seq(40L, 50L), Seq(16, 16))
      val cSrc = liHead(li, 1500)
        .withColumn("pk10", (col("l_partkey") % 10).cast("double"))
      val c = GArr.fromColumn(cSrc, "pk10", liTotalOrder, chunk = 512)
        .reshape(Seq(50L, 30L), Seq(16, 16))
      Einsum.einsum("ij,jk,kl->il", Seq(a, b, c)).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- fancy indexing (dask x[[...]] / np.take, slicing.py:582):
    // driver-held out-of-order index list gathered in ONE scatter shuffle,
    // per-element entries coalesced to one record per (src,dst) block pair.
    "q164_take_fancy" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(liHead(li, 3000), "l_quantity", liTotalOrder, chunk = 512)
      val idx = (0 until 200).map(i => (i.toLong * 37 + 5) % 3000)
      x.take(idx).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("q"))
    },

    // ---- boolean-mask indexing (dask x[mask], slicing.py:1061): the 1-D
    // counts-prefix mask ranking (block join + O(nblocks) prefix + one
    // pack shuffle, no sort); output order is pinned by a position-weighted
    // checksum.
    "q165_boolean_mask" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li, "l_quantity", liTotalOrder, chunk = 4096)
      val m = x.mapBlocks((_, d) => d.map(v => if (v >= 30.0) 1.0 else 0.0))
      x.booleanMask(m, targetChunk = 4096).toIndexedDF
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum((col("idx") % 9973 + 1) * col("value").cast("long")).as("wsum"))
    },

    // ---- setitem (dask x[a:b:c] = v, slicing.py:1464/2030): a chunked
    // value array scattered into a stepped slice (one overlay co-group),
    // then a scalar strided overwrite (pure narrow map) on top.
    "q166_setitem" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li, "l_quantity", liTotalOrder, chunk = 4096)
      val v = GArr.fromFunction(s, Seq(713L), Seq(128))(gg => 100.0 + gg(0))
      val y = x.updatedSlice(Seq((10L, 5001L, 7L)), v)
      val z = y.updatedSlice(Seq((0L, x.shape.head, 101L)), -5.0)
      z.toIndexedDF
        .agg(sum((col("idx") % 9973 + 1) * col("value").cast("long")).as("wsum"),
          sum(when(col("value") === -5.0, 1L).otherwise(0L)).as("neg"))
    },

    // ---- seeded random arrays (dask.array.random, random.py:1-1113):
    // counter-based splitmix64 on (seed, global flat index) — deterministic
    // under rechunk, zero-shuffle generation. The oracle recomputes the
    // exact 53-bit draws in DuckDB through the shared wmul64/m64a/m64b
    // HUGEINT macros, so this is a full hash-checked bit equality, not a
    // statistical smoke test.
    "q167_random_bits" -> { (s, dir) =>
      import graft.operators.GArrRandom
      GArrRandom.uniform(s, Seq(4096L), Seq(512), seed = 42L).toIndexedDF
        .select(col("idx"),
          (col("value") * lit(9007199254740992.0)).cast("long").as("bits"))
    },

    // ---- distributed integer-array indexing (dask x[idx] with idx a dask
    // array, slicing.py:992): the index is itself a chunked array built
    // from l_partkey — requests key by source block, values co-group and
    // scatter to the index's own grid; nothing ever driver-side.
    "q168_takearr" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(liHead(li, 2048), "l_quantity", liTotalOrder, chunk = 256)
      val idxSrc = liHead(li, 500).withColumn("pos", (col("l_partkey") % 2048).cast("double"))
      val idx = GArr.fromColumn(idxSrc, "pos", liTotalOrder, chunk = 128)
      x.takeArr(idx).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("q"))
    },

    // ---- zarr v2 store roundtrip (dask from_zarr/to_zarr, core.py:3737/
    // 3004): write a 2-D cents matrix as zlib chunk files + .zarray, read
    // it back, reduce axis 1. Exact money math: cents are integers below
    // 2^53, so per-row sums hash-match the relational oracle.
    "q169_zarr_roundtrip" -> { (s, dir) =>
      import graft.operators.GArr
      import graft.sources.Zarr
      val li = t(s, dir, "lineitem")
      val cents = liHead(li, 6000)
        .withColumn("cents", floor(col("l_extendedprice") * 100 + 0.5).cast("double"))
      val x = GArr.fromColumn(cents, "cents", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 100L), Seq(16, 32))
      // deleted when the JVM exits (Spark's shutdown-registered temp dir)
      val zdir = GraftSqlShim.createTempDir("graft_zarr_q169").toString
      Zarr.toZarr(x, zdir, compressor = "zlib", level = 1)
      Zarr.fromZarr(s, zdir).sumAxis(1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("cents"))
    },

    // ---- distributed boolean-mask selection along an axis (dask
    // x[:, mask] with a dask-array mask, slicing.py:1061): the mask is
    // COMPUTED from the array itself (row sums thresholded), so nothing
    // about the selection is driver-known until runtime; driver sees only
    // O(axis grid) counts.
    "q170_compress_arr" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      // the matrix feeds BOTH the mask derivation and the selection, so
      // persist it — otherwise the total-order sort bridge recomputes per
      // consumer (measured 4.5s -> the cost of the extra sorts)
      val x = GArr.fromColumn(liHead(li, 6000), "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 100L), Seq(16, 32)).persist()
      val rowSums = x.sumAxis(1)
      val mask = rowSums.scalarMap(v => if (v > 2550.0) 1.0 else 0.0)
      x.compressArr(mask, axis = 0).sumAxis(1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("s"))
    },

    // ---- random long-tail, invertible case (dask.array.random gumbel,
    // random.py:1-1113): gumbel(0,1) is an exact -ln(-ln(1-u)) transform of
    // the SAME counter-based 53-bit draws q167 pins bit-exactly, so the
    // oracle recomputes the whole chain in DuckDB (scaled 1e4 to absorb
    // cross-libm ulp drift, the q157 float protocol).
    "q171_random_gumbel" -> { (s, dir) =>
      import graft.operators.GArrRandom
      GArrRandom.gumbel(s, Seq(4096L), Seq(512), seed = 42L).toIndexedDF
        .select(col("idx"),
          floor(col("value") * 10000 + lit(0.5)).cast("long").as("g4"))
    },

    // ---- fancy setitem with a DISTRIBUTED index AND value (dask
    // x[idx] = v, slicing.py:1464 setitem_array): duplicate targets must
    // resolve LAST-wins in index order; the value array is chunked
    // differently from the index (forces the align regrid). Values are
    // 10000+j, so last-wins == MAX(j) per target — exactly restatable.
    "q172_fancy_setitem" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(liHead(li, 4096), "l_quantity", liTotalOrder, chunk = 512)
      val idxSrc = liHead(li, 500)
        .withColumn("pos", ((col("l_partkey") * 3) % 4096).cast("double"))
      val idx = GArr.fromColumn(idxSrc, "pos", liTotalOrder, chunk = 128)
      val v = GArr.fromFunction(s, Seq(500L), Seq(100))(g => 10000.0 + g(0))
      x.updatedFancy(idx, v).toIndexedDF
        .agg(sum((col("idx") % 9973 + 1) * col("value").cast("long")).as("wsum"),
          sum(when(col("value") >= 10000.0, 1L).otherwise(0L)).as("hits"))
    },

    // ---- distributed integer-array indexing along a NON-ZERO axis (dask
    // x[:, idx] with idx a dask array, slicing.py:992 applies along any
    // axis): column-gather of a 60x100 matrix through a chunked index —
    // requests co-group by axis block, full lanes scatter; 2400-cell dump.
    "q173_takearr_axis" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(liHead(li, 6000), "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 100L), Seq(16, 32))
      val idxSrc = liHead(li, 40).withColumn("pos", (col("l_partkey") % 100).cast("double"))
      val idx = GArr.fromColumn(idxSrc, "pos", liTotalOrder, chunk = 16)
      x.takeArr(idx, axis = 1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("q"))
    },

    // ---- masked setitem with an ARRAY right-hand side (dask x[mask] = v,
    // slicing.py:1464 setitem_array bool branch): the mask is derived from
    // the array itself and the VALUES come from a booleanMask selection of
    // the same array (scaled), so the rank->value plumbing (the counts-
    // prefix mask ranking + the gather co-group over the values) is
    // exercised end-to-end with nothing driver-known:
    // result == where(q>=30, 1000q+7, q).
    "q174_masked_assign" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(liHead(li, 6000), "l_quantity", liTotalOrder, chunk = 512)
        .persist()
      val m = x.mapBlocks((_, d) => d.map(v => if (v >= 30.0) 1.0 else 0.0))
      val values = x.booleanMask(m, targetChunk = 1000)
        .scalarMap(v => v * 1000.0 + 7.0)
      x.maskedAssign(m, values).toIndexedDF
        .agg(sum((col("idx") % 9973 + 1) * col("value").cast("long")).as("wsum"),
          max(col("value").cast("long")).as("mx"))
    },

    // ---- bag accumulate (dask Bag.accumulate, bag/core.py:1465): the
    // two-phase distributed prefix scan over a range-partitioned ordered
    // bag; binop carries (rightmost rn, running sum), so the output IS the
    // (idx, cumulative) pair stream — exact BIGINT arithmetic.
    "q175_bag_accumulate" -> { (s, dir) =>
      import graft.api.GBag
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val sorted = li.sort(liTotalOrder.map(col): _*).limit(3000)
        .select(col("l_quantity").cast("long")).as[Long]
      val withRn = sorted.rdd.zipWithIndex().map { case (q, i) => (i, q) }
      val ds = s.createDataset(withRn)
        .repartitionByRange(6, col("_1")).sortWithinPartitions("_1")
      GBag(ds).accumulate((a, b) => (b._1, a._2 + b._2))
        .toDF("idx", "cum").select(col("idx"), col("cum"))
    },

    // ---- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse k-means
    // clusters, EXACT within-cluster cosine, keep-lowest-id — the
    // embedding-level dedup a training corpus runs after MinHash. Pair
    // space is n²/k (cluster-bucketed), never a global self-join. The
    // stride subset keeps the oracle's quadratic replica bounded at gate
    // scale (same protocol as q61). tau = 0.3 because the synthetic
    // embeddings plant no true near-dups (corpus max cosine ≈ 0.6) —
    // the machinery and engine-agreement are what's under test here;
    // real corpora run 0.9+ (the spec test pins the semantics).
    "q176_semantic_dedup" -> { (s, dir) =>
      graft.operators.Similarity.semanticDedup(
        t(s, dir, "embeddings").filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 8, iters = 2, tau = 0.3)
    },

    // ---- routines long tail (dask/array/routines.py): ediff1d +
    // flatnonzero chained — consecutive diffs of the total-ordered
    // quantity vector, then the flat C-order indices of the nonzero
    // diffs via the counts-prefix boolean-mask compaction (no sort).
    "q177_flatnonzero_diff" -> { (s, dir) =>
      import graft.operators.{ArrayRoutines, GArr}
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(4096),
        "l_quantity", liTotalOrder, chunk = 512)
      ArrayRoutines.flatnonzero(ArrayRoutines.ediff1d(x)).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("pos"))
    },

    // ---- masked arrays (dask/array/ma.py): mask quantities in [10,30],
    // per-row valid count / masked sum / masked mean over the 60x100
    // matrix — np.ma reduction semantics (masked cells contribute
    // nothing; mean divides by the VALID count, not the axis length).
    "q178_masked_mean" -> { (s, dir) =>
      import graft.operators.{GArr, MaskedArr}
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(6000),
        "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 100L), Seq(16, 32)).persist()
      val m = MaskedArr.maskedInside(x, 10.0, 30.0)
      val c = m.countAxis(1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("c"))
      val sm = m.sumAxis(1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("s"))
      val mn = m.meanAxis(1).toIndexedDF.select(col("idx"), col("value").as("mean"))
      c.join(sm, "idx").join(mn, "idx")
        .select(col("idx"), col("c"), col("s"), col("mean"))
    },

    // ---- multi-dim FFT (dask/array/fft.py fft2/ifft2): 64x32 integer
    // grid -> forward 2-D transform -> inverse -> round(re) recovers the
    // exact integers (double roundtrip error ~1e-12 relative, integers
    // < 2^7, so rounding is exact at any gate scale). The transform
    // itself is pinned by q180's spectrum identities — this query pins
    // the INVERSE path.
    "q179_fft2_roundtrip" -> { (s, dir) =>
      import graft.operators.{CArr, ComplexFft, GArr}
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(2048),
        "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(64L, 32L), Seq(16, 16))
      ComplexFft.ifft2(ComplexFft.fft2(CArr.fromReal(x))).reArr
        .toIndexedDF
        .select(col("idx"), round(col("value")).cast("long").as("v"))
    },

    // ---- forward-transform identities the oracle can restate exactly:
    // the DC bin of a 2-D DFT is the plain sum, and Parseval gives
    // sum|X|^2 = N * sum x^2 — both integers after rounding, so a
    // "transform" that was secretly the identity (which would also pass
    // q179) fails here.
    "q180_fft_parseval" -> { (s, dir) =>
      import graft.operators.{CArr, ComplexFft, GArr}
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(2048),
        "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(64L, 32L), Seq(16, 16))
      val f = ComplexFft.fft2(CArr.fromReal(x)).persist()
      val dc = f.reArr.toIndexedDF.where(col("idx") === 0L)
        .select(round(col("value")).cast("long").as("dc"))
      val power = f.reArr.elemwise(f.imArr)((r, i) => r * r + i * i).sumAll
      val ps = s.range(1).select(
        lit(math.round(power / 2048.0)).as("parseval"))
      dc.crossJoin(ps)
    },

    // ---- sliding_window_view (array/lib/stride_tricks.py) + narrow
    // trailing-axis reductions: 7-wide windows over the total-ordered
    // quantity vector; per-window sum and min are exact BIGINTs the
    // oracle restates as frame window functions.
    "q181_sliding_window" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val sw = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(4096),
        "l_quantity", liTotalOrder, chunk = 512)
        .slidingWindowAxis(0, 7).persist()
      val sums = sw.sumAxis(1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("wsum"))
      val mins = sw.minAxis(1).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("wmin"))
      sums.join(mins, "idx").select(col("idx"), col("wsum"), col("wmin"))
    },

    // ---- unravel_index / ravel_multi_index (routines.py): flat indices
    // mod 120 decomposed over dims (4,5,6) and re-raveled — exact integer
    // div/mod on both engines, elementwise narrow maps + co-gridded zips.
    "q182_unravel_ravel" -> { (s, dir) =>
      import graft.operators.{ArrayRoutines, GArr}
      val ord = t(s, dir, "orders")
        .sort("o_orderkey").limit(1024)
        .select(col("o_orderkey"), (col("o_orderkey") % 120).cast("double").as("k"))
      val idx = GArr.fromColumn(ord, "k", Seq("o_orderkey"), chunk = 200)
      val dims = Seq(4L, 5L, 6L)
      val coords = ArrayRoutines.unravelIndex(idx, dims)
      val rav = ArrayRoutines.ravelMultiIndex(coords, dims)
      def c(a: GArr, name: String) = a.toIndexedDF
        .select(col("idx"), col("value").cast("long").as(name))
      c(coords(0), "c0").join(c(coords(1), "c1"), "idx")
        .join(c(coords(2), "c2"), "idx").join(c(rav, "rav"), "idx")
        .select(col("idx"), col("c0"), col("c1"), col("c2"), col("rav"))
    },

    // ---- meshgrid (routines.py, 'xy' indexing): coordinate grids from
    // the region x nation key vectors, combined elementwise on the shared
    // chunk grid the broadcast outputs land on — the oracle is the plain
    // cross join.
    "q183_meshgrid" -> { (s, dir) =>
      import graft.operators.{ArrayRoutines, GArr}
      val nk = t(s, dir, "nation").sort("n_nationkey")
        .select((col("n_nationkey") + 1).cast("double").as("x"), col("n_nationkey"))
      val rk = t(s, dir, "region").sort("r_regionkey")
        .select((col("r_regionkey") + 2).cast("double").as("y"), col("r_regionkey"))
      val x = GArr.fromColumn(nk, "x", Seq("n_nationkey"), chunk = 8)
      val y = GArr.fromColumn(rk, "y", Seq("r_regionkey"), chunk = 2)
      val Seq(gx, gy) = ArrayRoutines.meshgrid(Seq(x, y)) // shape (5, 25)
      val prod = gx.elemwise(gy)(_ * _)
      def c(a: GArr, name: String) = a.toIndexedDF
        .select(col("idx"), col("value").cast("long").as(name))
      c(gx, "xv").join(c(gy, "yv"), "idx").join(c(prod, "xy"), "idx")
        .select(col("idx"), col("xv"), col("yv"), col("xy"))
    },

    // ---- numpy pad mode family (creation.py pad): wrap, symmetric,
    // edge, and the whole-axis maximum stat mode over the total-ordered
    // quantity vector — each mode's padded vector restated exactly in SQL
    // (pads are slices/statistics of the same integer sequence).
    "q184_pad_modes" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(500),
        "l_quantity", liTotalOrder, chunk = 128).persist()
      def dump(a: GArr, tag: String) = a.toIndexedDF
        .select(lit(tag).as("mode"), col("idx"),
          col("value").cast("long").as("v"))
      dump(x.padWrapAxis(0, 2, 2), "wrap")
        .unionAll(dump(x.padSymmetricAxis(0, 3, 4), "symmetric"))
        .unionAll(dump(x.padEdgeAxis(0, 1, 1), "edge"))
        .unionAll(dump(x.padStatAxis(0, 5, 5, "maximum"), "maximum"))
    },

    // ---- image.imread (array/image.py): 8 BMP files round-tripped
    // through the repo's byte-level 24-bit codec — quantities mod 256
    // become pixel bytes, the sorted-glob stack re-linearizes them in the
    // exact source order, so the oracle is the plain prefix. Exercises
    // the executor-side decode path end-to-end at every gate scale.
    "q185_imread_stack" -> { (s, dir) =>
      import graft.operators.{GArr, Multimodal}
      import graft.sources.Images
      val li = t(s, dir, "lineitem")
      val q = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(192),
        "l_quantity", liTotalOrder, chunk = 192)
        .toIndexedDF.collect().sortBy(_.getLong(0)).map(_.getDouble(1))
      val dir2 = java.nio.file.Files.createTempDirectory("q185_bmp")
      val h = 2; val w = 4
      for (i <- 0 until 8) {
        val rgb = new Array[Byte](h * w * 3)
        for (j <- 0 until 24) rgb(j) = q(i * 24 + j).toInt.toByte
        java.nio.file.Files.write(dir2.resolve(f"img$i%02d.bmp"),
          Multimodal.encodeBmp24(w, h, rgb))
      }
      Images.imreadBmp(s, s"$dir2/*.bmp").toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- FFT convolution (scipy/dask fftconvolve 'full'): 300-tap signal
    // (*) 40-tap kernel via zero-pad -> fft -> hadamard -> ifft; integer
    // inputs round exactly, and the oracle is the direct O(na*nb)
    // join-aggregate — two INDEPENDENT algorithms for the same sequence.
    "q186_fft_convolve" -> { (s, dir) =>
      import graft.operators.{ComplexFft, GArr}
      val li = t(s, dir, "lineitem")
      val a = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(300),
        "l_quantity", liTotalOrder, chunk = 64)
      val ords = t(s, dir, "orders").sort("o_orderkey").limit(40)
        .select(col("o_orderkey"), (col("o_orderkey") % 9 + 1).cast("double").as("b"))
      val b = GArr.fromColumn(ords, "b", Seq("o_orderkey"), chunk = 16)
      ComplexFft.fftConvolve(a, b).toIndexedDF
        .select(col("idx"), round(col("value")).cast("long").as("v"))
    },

    // ---- argtopk (reductions.py argtopk): per-row indices of the top-5
    // quantities over the 60x100 matrix — the candidate-sketch tree merge
    // with the deterministic smaller-index tie-break the oracle restates
    // as row_number() OVER (ORDER BY q DESC, col).
    "q187_argtopk" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(6000),
        "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 100L), Seq(16, 32))
      x.argtopkAxis(1, 5).toIndexedDF
        .select(col("idx"), col("value").cast("long").as("v"))
    },

    // ---- ndim setitem chain (dask x[idx] = v / x[mask] = v on a MATRIX,
    // slicing.py:1464 setitem_array, the r10 ndim generalization): fancy
    // ROW assignment on a 64x64 matrix (duplicate target rows — last-wins
    // per whole row, value chunked off both grids to force the rechunk
    // align), then a masked assignment whose values are the booleanMask
    // selection of the updated matrix itself (so ndim global-C-order rank
    // -> value plumbing is exercised with nothing driver-known).
    // Relationally: rows hit by idx become 20000+100*max(j)+col, then every
    // cell >= 20000 becomes val*10+3.
    "q188_setitem_2d" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(liHead(li, 4096), "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(64L, 64L), Seq(16, 16))
      val idxSrc = liHead(li, 20)
        .withColumn("pos", ((col("l_partkey") * 7) % 64).cast("double"))
      val idx = GArr.fromColumn(idxSrc, "pos", liTotalOrder, chunk = 8)
      val v = GArr.fromFunction(s, Seq(20L, 64L), Seq(8, 32))(g =>
        20000.0 + g(0) * 100 + g(1))
      val y = x.updatedFancy(idx, v, axis = 0).persist()
      val m = y.mapBlocks((_, d) => d.map(vv => if (vv >= 20000.0) 1.0 else 0.0))
      val values = y.booleanMask(m, targetChunk = 500).scalarMap(vv => vv * 10.0 + 3.0)
      y.maskedAssign(m, values).toIndexedDF
        .agg(sum((col("idx") % 9973 + 1) * col("value").cast("long")).as("wsum"),
          sum(when(col("value") >= 200000.0, 1L).otherwise(0L)).as("hits"))
    },

    // ---- rfft/irfft Hermitian roundtrip (dask fft.py rfft/irfft): the
    // half-spectrum keeps bins 0..n/2; irfft rebuilds the mirror
    // X[n-k] = conj(X[k]) and inverse-transforms. On integer input the
    // roundtrip is exact to fp rounding, so the oracle is the identity on
    // the total-ordered head — gating the mirror/flip/concat path (and the
    // backward-norm 1/n) that q179/q180 (fft2/fftn) do not touch.
    "q189_rfft_roundtrip" -> { (s, dir) =>
      import graft.operators.{ComplexFft, GArr}
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(li.sort(liTotalOrder.map(col): _*).limit(4096),
        "l_quantity", liTotalOrder, chunk = 512)
      val half = ComplexFft.rfftAxis(x, 0) // 2049 Hermitian bins
      ComplexFft.irfftAxis(half, 0).toIndexedDF
        .select(col("idx"),
          floor(col("value") + lit(0.5)).cast("long").as("q"))
    },

    // ---- full setitem_array index generality (slicing.py:1464 +
    // parse_assignment_indices :1236): (1) a 2-D integer index array
    // (numpy generality past the reference's 1-D limit — flattens to the
    // C-order write sequence, duplicates last-wins), (2) a mixed tuple of
    // a DESCENDING stepped slice and a distributed column-index array,
    // (3) a scalar fill over a strided row x descending column slice pair.
    // Everything integer-valued, so the oracle is hash-exact.
    "q190_setitem_mixed" -> { (s, dir) =>
      import graft.operators.{AssignIdx, GArr}
      val li = t(s, dir, "lineitem")
      val x = GArr.fromColumn(liHead(li, 4096), "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(64L, 64L), Seq(16, 16))
      val idxSrc = liHead(li, 20)
        .withColumn("pos", ((col("l_partkey") * 7) % 64).cast("double"))
      val idx = GArr.fromColumn(idxSrc, "pos", liTotalOrder, chunk = 8)
        .reshape(Seq(4L, 5L), Seq(2, 3))
      val v = GArr.fromFunction(s, Seq(4L, 5L, 64L), Seq(2, 3, 32))(g =>
        20000.0 + (g(0) * 5 + g(1)) * 100 + g(2))
      val y = x.updatedFancy(idx, v, axis = 0)
      val colSrc = liHead(li, 12)
        .withColumn("pos", ((col("l_suppkey") * 11) % 64).cast("double"))
      val colIdx = GArr.fromColumn(colSrc, "pos", liTotalOrder, chunk = 5)
      val v2 = GArr.fromFunction(s, Seq(10L, 12L), Seq(4, 5))(g =>
        30000.0 + g(0) * 50 + g(1))
      val z = y.updatedAt(Seq(AssignIdx.Sl(50, 10, -4), AssignIdx.Ix(colIdx)), v2)
      val w = z.updatedAt(Seq(AssignIdx.Sl(0, 64, 9), AssignIdx.Sl(60, 0, -7)), 77777.0)
      w.toIndexedDF
        .agg(sum((col("idx") % 9973 + 1) * col("value").cast("long")).as("wsum"),
          sum(when(col("value") >= 20000.0, 1L).otherwise(0L)).as("hits"))
    },

    // ---- TPC-H-shaped macro pipelines (the reference's own public
    // benchmark suite — BASELINE.md): multi-join + agg + order + limit
    // composed through the same dataframe API as everything else.
    // Money math is elementwise-rounded to integer cents with the
    // IDENTICAL fp expression on both engines, so sums hash-match.

    // Q3 shipping priority: semi-join the filtered-segment customers (FK
    // N:1, so semi == inner but carries no payload), inner-join lineitem
    // to the surviving orders, aggregate revenue per order, top 10 with a
    // total tiebreak order -> one TakeOrdered, no global sort.
    "q191_tpch_q3" -> { (s, dir) =>
      val cust = g(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = g(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-07-01"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .rename("o_custkey" -> "c_custkey")
        .merge(cust, on = Seq("c_custkey"), how = "leftsemi")
      g(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-07-01"))
        .assign("rev_cents", floor(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long"))
        .select("l_orderkey", "rev_cents")
        .rename("l_orderkey" -> "o_orderkey")
        .merge(ord, on = Seq("o_orderkey"), how = "inner")
        .groupby("o_orderkey", "o_orderdate", "o_orderpriority")
        .aggAliased(("rev_cents", "sum", "revenue_cents"))
        .sortValues(Seq("revenue_cents", "o_orderdate", "o_orderkey"),
          ascending = Seq(false, true, true))
        .headDF(10)
        .assign("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .df
    },

    // Q6 forecast revenue: pure filter + global sum — the pushdown/prune
    // benchmark shape (PushedFilters carry all four predicates).
    "q192_tpch_q6" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .assign("rev_cents", floor(col("l_extendedprice") * col("l_discount") *
          100 + lit(0.5)).cast("long"))
        .df.agg(sum("rev_cents").as("revenue_cents"),
          count(lit(1)).as("n_rows"))
    },

    // Q18 large-volume customers: the HAVING-over-groupby + join-back
    // shape — the per-order quantity aggregate (map-side partials) feeds
    // an inner join of orders and the (broadcastable) customer dim, then
    // one TakeOrdered(100).
    "q193_tpch_q18" -> { (s, dir) =>
      val big = g(s, dir, "lineitem")
        .groupby("l_orderkey").aggAliased(("l_quantity", "sum", "sum_qty"))
        .filter(col("sum_qty") > 250)
        .assign("sum_qty", col("sum_qty").cast("long"))
        .rename("l_orderkey" -> "o_orderkey")
      g(s, dir, "orders")
        .merge(big, on = Seq("o_orderkey"), how = "inner")
        .rename("o_custkey" -> "c_custkey")
        // customer grows with SF (not broadcast-safe at 100 TB): AQE picks
        // broadcast at small SF and shuffle-join at scale
        .merge(g(s, dir, "customer").select("c_custkey", "c_name"),
          on = Seq("c_custkey"), how = "inner")
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
          "o_totalprice", "sum_qty")
        .sortValues(Seq("o_totalprice", "o_orderdate", "o_orderkey"),
          ascending = Seq(false, true, true))
        .headDF(100)
        .assign("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .df
    },

    // Q5 local-supplier volume: the 6-way star join — region/nation/
    // supplier broadcast down the dim chain, fact-fact joins shuffle on
    // their FKs, and the local-supplier predicate (c_nationkey ==
    // s_nationkey) filters AFTER the customer join, exactly the TPC-H
    // semantics.
    "q194_tpch_q5" -> { (s, dir) =>
      val asiaNations = g(s, dir, "nation")
        .rename("n_regionkey" -> "r_regionkey")
        .merge(g(s, dir, "region").filter(col("r_name") === "ASIA"),
          on = Seq("r_regionkey"), how = "leftsemi")
        .select("n_nationkey", "n_name")
      val sup = g(s, dir, "supplier")
        .rename("s_nationkey" -> "n_nationkey")
        // nation x region is FIXED-size (25 x 5 rows at every SF): always
        // broadcast; supplier/customer grow with SF, so those joins are
        // left to AQE below
        .merge(asiaNations, on = Seq("n_nationkey"), how = "inner",
          broadcastRight = true)
        .select("s_suppkey", "n_nationkey", "n_name")
      val ord = g(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select("o_orderkey", "o_custkey")
      g(s, dir, "lineitem")
        .assign("rev_cents", floor(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long"))
        .select("l_orderkey", "l_suppkey", "rev_cents")
        .rename("l_suppkey" -> "s_suppkey")
        .merge(sup, on = Seq("s_suppkey"), how = "inner")
        .rename("l_orderkey" -> "o_orderkey")
        .merge(ord, on = Seq("o_orderkey"), how = "inner")
        .rename("o_custkey" -> "c_custkey")
        // customer grows with SF — no broadcast hint; AQE picks broadcast
        // at small SF and shuffle-join at scale
        .merge(g(s, dir, "customer").select("c_custkey", "c_nationkey"),
          on = Seq("c_custkey"), how = "inner")
        .filter(col("c_nationkey") === col("n_nationkey"))
        .groupby("n_name")
        .aggAliased(("rev_cents", "sum", "revenue_cents"))
        .df
    },

    // Q1 pricing summary (full TPC-H aggregate set — 8 output
    // aggregates): one pruned scan feeding six partial->final sums/counts
    // per (returnflag, linestatus), with the three averages derived as
    // exact integer ratios AFTER the aggregate (sum/count of the same two
    // longs is a deterministic IEEE division in both engines, unlike a
    // native avg whose accumulation order varies). Money sums are per-row
    // floored to integer cents (identical expression both engines) so
    // group sums are bit-exact under any partitioning; l_discount rides
    // as integer micros for the same reason.
    "q196_tpch_q1" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .assign(
          "base_cents" -> floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"),
          "disc_cents" -> floor(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long"),
          "charge_cents" -> floor(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")) * 100 +
            lit(0.5)).cast("long"),
          "disc_micros" -> floor(col("l_discount") * 1000000 + lit(0.5)).cast("long"),
          "qty" -> col("l_quantity").cast("long"))
        .groupby("l_returnflag", "l_linestatus")
        .aggAliased(
          ("qty", "sum", "sum_qty"),
          ("base_cents", "sum", "sum_base_cents"),
          ("disc_cents", "sum", "sum_disc_cents"),
          ("charge_cents", "sum", "sum_charge_cents"),
          ("disc_micros", "sum", "sum_disc_micros"),
          ("qty", "count", "count_order"))
        .assign(
          "avg_qty" -> col("sum_qty").cast("double") / col("count_order"),
          "avg_price_cents" -> col("sum_base_cents").cast("double") / col("count_order"),
          "avg_disc" -> col("sum_disc_micros").cast("double") / col("count_order") / lit(1000000.0))
        .drop("sum_disc_micros")
        .df
    },

    // Q10 returned-item reporting: fact-fact join shuffles on the FK,
    // fixed-size nation broadcasts, customer join left to AQE, one
    // TakeOrdered(20) — no global sort.
    "q197_tpch_q10" -> { (s, dir) =>
      val ord = g(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
        .select("o_orderkey", "o_custkey")
      g(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .assign("rev_cents", floor(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long"))
        .select("l_orderkey", "rev_cents")
        .rename("l_orderkey" -> "o_orderkey")
        .merge(ord, on = Seq("o_orderkey"), how = "inner")
        .rename("o_custkey" -> "c_custkey")
        .merge(g(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
          on = Seq("c_custkey"), how = "inner")
        .rename("c_nationkey" -> "n_nationkey")
        // nation is FIXED-size (25 rows at every SF): always broadcast
        .merge(g(s, dir, "nation").select("n_nationkey", "n_name"),
          on = Seq("n_nationkey"), how = "inner", broadcastRight = true)
        .groupby("c_custkey", "c_name", "c_acctbal", "n_name")
        .aggAliased(("rev_cents", "sum", "revenue_cents"))
        .sortValues(Seq("revenue_cents", "c_custkey"),
          ascending = Seq(false, true))
        .headDF(20)
        .df
    },

    // Q14 promo revenue: lineitem joins the part dim on the FK (part
    // grows with SF — AQE decides broadcast vs shuffle), conditional
    // aggregation splits promo vs total; integer cents keep both sums
    // exact.
    "q198_tpch_q14" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-02-01"))
        .assign("rev_cents", floor(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long"))
        .select("l_partkey", "rev_cents")
        .rename("l_partkey" -> "p_partkey")
        .merge(g(s, dir, "part").select("p_partkey", "p_type"),
          on = Seq("p_partkey"), how = "inner")
        .assign("promo_cents",
          when(col("p_type").startsWith("PROMO"), col("rev_cents"))
            .otherwise(lit(0L)))
        .df.agg(sum("promo_cents").as("promo_cents"),
          sum("rev_cents").as("total_cents"))
    },

    // ---- vindex (dask x.vindex[rows, cols], core.py:2047/5854):
    // coordinate-pointwise gather over a 2-D chunked array — the first
    // 3000 quantities in total order reshaped to (60, 50), then 200
    // broadcast points read across block boundaries (salt=2 exercises the
    // hot-block replication path). Oracle: a position join on r*50+c.
    "q199_vindex" -> { (s, dir) =>
      import graft.operators.GArr
      val li = t(s, dir, "lineitem")
      val head = li.sort(liTotalOrder.map(col): _*).limit(3000)
      val x = GArr.fromColumn(head, "l_quantity", liTotalOrder, chunk = 512)
        .reshape(Seq(60L, 50L), Seq(16, 16))
      val rows = Array.tabulate(200)(p => (p.toLong * 7 + 3) % 60)
      val cols = Array.tabulate(200)(p => (p.toLong * 13 + 11) % 50)
      x.vindex(Map(0 -> ((Seq(200L), rows)), 1 -> ((Seq(200L), cols))), salt = 2)
        .toIndexedDF
        .select(col("idx"), col("value").cast("long").as("q"))
    },

    // ---- TPC-H semi/anti macro tier (VERDICT r11 item 3): the five
    // join shapes the q191-q198 pipelines don't exercise — exists →
    // leftsemi, left join + count distribution, not-in → anti,
    // multi-exists/not-exists, anti + scalar-subquery threshold.
    // Predicates are adapted to the fixture's column set (no
    // commitdate/receiptdate/partsupp/phone/comment columns), keeping
    // the TPC-H plan shapes intact.

    // Q4 order-priority checking: EXISTS(lineitem) → ONE leftsemi join
    // (never a join+distinct), then a tiny groupBy.
    "q200_tpch_q4" -> { (s, dir) =>
      val ord = g(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01") &&
          col("o_orderdate") < lit("1996-10-01"))
        .select("o_orderkey", "o_orderpriority")
      val late = g(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey")
        .rename("l_orderkey" -> "o_orderkey")
      ord.merge(late, on = Seq("o_orderkey"), how = "leftsemi")
        .groupby("o_orderpriority")
        .aggAliased(("o_orderkey", "count", "order_count"))
        .sortValues(Seq("o_orderpriority"))
        .df
    },

    // Q13 customer order-count distribution: the right-side filter lives
    // in the LEFT join (not a post-filter, which would drop the
    // zero-order customers), then a second tiny aggregate over c_count.
    "q201_tpch_q13" -> { (s, dir) =>
      val ords = g(s, dir, "orders")
        .filter(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey")
        .rename("o_custkey" -> "c_custkey")
      g(s, dir, "customer").select("c_custkey")
        .merge(ords, on = Seq("c_custkey"), how = "left")
        .groupby("c_custkey")
        .aggAliased(("o_orderkey", "count", "c_count")) // count skips null = 0 orders
        .groupby("c_count")
        .aggAliased(("c_custkey", "count", "custdist"))
        .sortValues(Seq("custdist", "c_count"), ascending = Seq(false, false))
        .df
    },

    // Q16 parts/supplier counting: part-supplier pairs (lineitem stands
    // in for partsupp), a NOT-IN → left_anti against the excluded
    // supplier set, count-distinct per part attribute triple. NO
    // pre-distinct on the pairs: COUNT(DISTINCT suppkey) dedups inside
    // the aggregate's partial pass and the anti join is
    // duplicate-insensitive, so a distinct first would add a full-fact
    // shuffle for nothing (the 40× ladder measured it at +2.4×).
    "q202_tpch_q16" -> { (s, dir) =>
      val ps = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      val parts = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#4" &&
          !col("p_type").startsWith("MEDIUM") &&
          col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 36))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val badSupp = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      ps.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },

    // Q21 suppliers-who-kept-orders-waiting: the multi-correlated shape —
    // one EXISTS (another supplier in the order) as a non-equi left_semi,
    // one NOT EXISTS (another supplier ALSO late) as a non-equi left_anti,
    // fact-fact semi on F-status orders, fixed-size supplier broadcast,
    // TakeOrdered(20).
    "q203_tpch_q21" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val l1 = li.filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
      val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      l1.join(l2, col("l_orderkey") === col("ok2") && col("sk2") =!= col("l_suppkey"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("ok3") && col("sk3") =!= col("l_suppkey"),
          "left_anti")
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },

    // Q22 global-sales-opportunity: scalar-subquery threshold (exact
    // integer-cents ratio, broadcast as a 1-row cross join) + NOT EXISTS →
    // left_anti against the urgent-order customers.
    "q204_tpch_q22" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .withColumn("bal_cents", floor(col("c_acctbal") * 100 + lit(0.5)).cast("long"))
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg((sum("bal_cents").cast("double") / count(lit(1))).as("thr"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      cust.crossJoin(broadcast(thr))
        .filter(col("bal_cents").cast("double") > col("thr"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"), sum("bal_cents").as("totacctbal_cents"))
        .orderBy("c_mktsegment")
    },

    // Q17 small-quantity-order revenue: the correlated scalar aggregate
    // (qty < 0.2 * per-part avg) as the classic decorrelated rewrite —
    // prune lineitem to the selected parts ONCE (broadcast semi), compute
    // the per-part aggregate over the pruned stream (identical per-part
    // values, a fraction of the rows), join back, filter, sum. The
    // threshold is exact integer algebra: qty < 0.2*avg == 5*qty*cnt <
    // sum_qty, all longs — no float division anywhere.
    "q205_tpch_q17" -> { (s, dir) =>
      val parts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_size") < 20)
        .select("p_partkey")
      val pruned = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("price_cents"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "left_semi")
      val pa = pruned.groupBy("l_partkey")
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("cnt"))
      pruned.join(pa, Seq("l_partkey"))
        .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
        .agg(count(lit(1)).as("cnt_rows"), sum("price_cents").as("total_cents"))
    },

    // Q20 potential-part-promotion: the nested double-semi — suppliers
    // having a dormant (part,supplier) pair (zero shipments in 1997H1,
    // lifetime qty >= 100) on a name-selected part. The part semi is
    // applied BELOW the pair aggregate: a partkey-level filter commutes
    // with a groupBy keyed on partkey (every row of a pair shares the
    // pair's partkey), so the aggregate runs on the name-selected slice
    // only — at 100 TB the difference is the whole fact table vs one
    // part family. Catalyst's own PushDownLeftSemiAntiJoin is blocked
    // here by the dormancy filter on the aggregate outputs (the HAVING
    // shape); the engine's PushSemiThroughFilteredAggregate rule
    // (plans/) now performs this jump for the natural form too —
    // PushSemiRuleSpec proves the natural Q20 plans identically.
    // Every threshold in exact longs.
    "q206_tpch_q20" -> { (s, dir) =>
      val smallParts = t(s, dir, "part")
        .filter(col("p_name").startsWith("small")).select("p_partkey")
      val pairs = t(s, dir, "lineitem")
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("st"),
          sum(when(col("l_shipdate") >= lit("1997-01-01") &&
            col("l_shipdate") < lit("1997-07-01"),
            col("l_quantity").cast("long")).otherwise(lit(0L))).as("sw"))
      val dormant = pairs.filter(col("sw") === 0 && col("st") >= 100)
        .select("l_suppkey")
      t(s, dir, "supplier").select("s_suppkey", "s_name")
        .join(dormant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name")
        .orderBy("s_name")
    },

    // Q19 discounted-revenue for quantity bands: THE disjunctive
    // OR-of-ANDs shape — three disjuncts, each pairing part attributes
    // (brand, size band) with a lineitem quantity band, carried in the
    // JOIN CONDITION rather than a post-join filter.  Catalyst's
    // CNF-conversion of the join disjunction pushes the single-side
    // hulls down on its own (brand ∈ {12,23,34} ∧ size ∈ [1,15] to the
    // part scan, quantity ∈ [1,30] to the fact scan — PlanGuard asserts
    // both), so at 100 TB the broadcast side is the three part families
    // and the fact scan skips ~40% of rows before the join even sees
    // them; rows surviving the hulls but matching no full disjunct die
    // inside the join.  Revenue in exact integer e4 units (cents ×
    // discount-percent), so the sum is partitioning-independent.
    "q207_tpch_q19" -> { (s, dir) =>
      val part = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      val d1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)
      val d2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)
      val d3 = col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30)
      li.join(broadcast(part),
          col("l_partkey") === col("p_partkey") && (d1 || d2 || d3))
        .agg(count(lit(1)).as("cnt_rows"), sum("rev_e4").as("revenue_e4"))
    },

    // Q15 top supplier: the aggregate-of-aggregate scalar subquery — a
    // per-supplier revenue view over one quarter, then the supplier(s)
    // hitting MAX(view).  The max is ONE 1-row aggregate broadcast back
    // onto the view as an equality key (a BroadcastHashJoin, not a
    // cartesian — PlanGuard asserts).  The view is persisted: Catalyst
    // plans the two consumers (the max and the probe) as two independent
    // fact scans otherwise (measured — no exchange reuse even under
    // AQE), and the view is supplier-cardinality (10⁻⁴ of the fact), so
    // caching it costs nothing at any SF while halving the fact IO.
    // Revenue is exact integer e4, so `= max` is an exact long
    // comparison — the classic float-ties hazard of Q15 does not exist
    // in this form.
    "q208_tpch_q15" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy("l_suppkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("total_revenue_e4"))
        .persist()
      val mx = rev.agg(max("total_revenue_e4").as("mx"))
      rev.join(broadcast(mx), col("total_revenue_e4") === col("mx"))
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_e4"))
        .orderBy("s_suppkey")
    },

    // Q7 volume shipping between two nations: the nation-pair two-fact
    // join with year extraction.  Join ORDER is the scale story: the
    // supplier side is nation-pruned FIRST (25-row nation broadcast into
    // supplier/customer), then lineitem ⋈ supplier cuts the fact stream
    // to the two nations' suppliers (~8%) BEFORE the only fact-fact join
    // (lineitem ⋈ orders) runs — written in that order because Catalyst
    // does not reorder joins without CBO stats, and at 100 TB the
    // difference is an SMJ over 8% vs 100% of the fact table.  The
    // supplier/customer joins carry no broadcast hint: AQE's stats pick
    // broadcast at test scale and degrade to shuffle when a side
    // outgrows the threshold.  The cross-pair disjunction filters the
    // 2×2 nation combinations post-join (2 values per side — free).
    "q209_tpch_q7" -> { (s, dir) =>
      val nations = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_7", "NATION_12"))
        .select("n_nationkey", "n_name")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_12") ||
          (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_7"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("rev_e4").as("revenue_e4"), count(lit(1)).as("n_rows"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // Q2 minimum-cost supplier: the correlated MIN subquery over a
    // derived pair table (lineitem stands in for partsupp: pair cost =
    // MIN line price per (part,supplier)).  Decorrelated prune-first,
    // the q205 argument again: the part-family filter commutes with
    // every per-part/per-pair aggregate, so the selected parts are
    // broadcast-semi'd into the fact BEFORE the pair aggregate — the
    // whole pipeline after the first semi runs on one part family, and
    // the per-part regional minimum joins back as a co-partitioned
    // key join (both sides already hash by l_partkey — no broadcast of
    // a part-cardinality side, which would not survive 100 TB).
    "q210_tpch_q2" -> { (s, dir) =>
      val selParts = t(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "ECONOMY")
        .select("p_partkey", "p_brand")
      val rs = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")
              .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name").as("s_nation"))
      val pairs = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
        .join(broadcast(selParts.select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min("price_cents").as("cost_cents"))
      val regional = pairs.join(broadcast(rs), col("l_suppkey") === col("s_suppkey"))
      val best = regional.groupBy("l_partkey").agg(min("cost_cents").as("min_cost"))
      regional.join(best, Seq("l_partkey"))
        .filter(col("cost_cents") === col("min_cost"))
        .join(broadcast(selParts), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"), col("s_nation"),
          col("cost_cents"))
        .orderBy("cost_cents", "p_partkey", "s_name")
        .limit(100)
    },

    // Q8 national market share: the deepest TPC-H join tree (8 tables)
    // — promo-part fact prune first (broadcast semi), then the only
    // fact-fact join (orders, date-pruned at the scan), then a customer
    // membership semi against the region's customers, then the supplier
    // dim for the nation label.  The share is reported as its two exact
    // integer sums (nation numerator, total denominator) rather than a
    // float division — partitioning-independent, and the consumer can
    // divide.
    "q211_tpch_q8" -> { (s, dir) =>
      val amCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")
              .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("o_custkey"))
      val suppN = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1998-01-01"))
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(amCust, Seq("o_custkey"), "left_semi")
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(sum(when(col("supp_nation") === "NATION_3", col("rev_e4"))
          .otherwise(lit(0L))).as("nation_rev_e4"),
          sum("rev_e4").as("total_rev_e4"))
        .orderBy("o_year")
    },

    // Q9 product-type profit: name-LIKE part prune (inner broadcast —
    // the retail price rides along as the unit-cost proxy, the fixture
    // has no partsupp/supplycost), profit in exact e4 ints, supplier
    // nation label broadcast, one fact-fact join for the order year,
    // nation × year aggregate.  Profit can go negative — exact longs
    // make the sum partitioning-independent either way.
    "q212_tpch_q9" -> { (s, dir) =>
      val boltParts = t(s, dir, "part").filter(col("p_name").contains("bolt"))
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("retail_cents"))
      val suppN = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      t(s, dir, "lineitem")
        .join(broadcast(boltParts), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")) -
            col("l_quantity").cast("long") * col("retail_cents") * lit(50L))
            .as("profit_e4"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(sum("profit_e4").as("sum_profit_e4"))
        .orderBy(col("n_name"), col("o_year").desc)
    },

    // Q11 important stock: per-part value share against a global
    // threshold — the group-vs-global scalar-subquery shape.  The
    // per-part value view is persisted (two consumers: the global total
    // and the probe; same measured no-reuse argument as q208) and the
    // 1-row total returns as a broadcast nested-loop (the q204
    // degenerate-threshold plan).  TPC-H scales Q11's fraction by 1/SF
    // to keep the result non-degenerate; this form is scale-invariant
    // instead — keep parts above 2× the MEAN share, stated as
    // value·cnt > 2·total in exact longs (no division, no floats;
    // products stay far under 2⁶³ even at the 100 TB point).
    "q213_tpch_q11" -> { (s, dir) =>
      val n3Supp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_3").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val pv = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
        .join(broadcast(n3Supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(sum("price_cents").as("value_cents"))
        .persist()
      val total = pv.agg(sum("value_cents").as("total"), count(lit(1)).as("cnt"))
      pv.crossJoin(broadcast(total))
        .filter(col("value_cents") * col("cnt") > lit(2L) * col("total"))
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("l_partkey"))
    },

    // Q12 shipping-priority counts: the two conditional COUNTs over a
    // fact-fact join (l_linestatus stands in for l_shipmode, the order
    // priority split is verbatim Q12) — one shuffle join on the
    // date-pruned fact, one tiny aggregate.
    "q214_tpch_q12" -> { (s, dir) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .select("l_orderkey", "l_linestatus")
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // ---- layout-independent exact-k bag sampling (brief ext): the k
    // documents with the smallest salted content hash — identical under
    // any partitioning, so DuckDB can recompute the very same draw.
    "q195_bag_sample_content" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("_1"), col("lang").as("_2"),
          col("n_chars").cast("long").as("_3"))
        .as[(Long, String, Long)]
      new graft.api.GBag(docs).sampleByContent(50, 7L)(r => r._1.toString)
        .ds.toDF("doc_id", "lang", "n_chars")
    },

    // ---- skew-resilient grouped cumulative (r14): the SQL-window path
    // (q116) gives one task per group — correct, but a zipf-hot group is
    // a single straggler task at 100 TB. cumsumTree range-splits hot
    // groups across partitions and stitches them with the segmented √n
    // tree carry (Cumulative.grouped). BIGINT values are exact under any
    // split, so the oracle is the plain per-group window sum; l_quantity
    // as final sort key keeps the order total under skew replication.
    "q215_group_cumsum_tree" -> { (s, dir) =>
      g(s, dir, "lineitem")
        .assign("qty", col("l_quantity").cast("long"))
        .groupby("l_orderkey")
        .cumsumTree("qty",
          Seq("l_linenumber", "l_partkey", "l_suppkey", "qty"), "cum_qty")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "cum_qty")
        .df
    },

    // grouped tree ffill (r14, companion to q215): per-user forward fill
    // with the hot-group-splitting path. Carried values are verbatim row
    // values — bit-exact under any partitioning, no float caveat.
    "q216_group_ffill_tree" -> { (s, dir) =>
      g(s, dir, "events")
        .assign("value",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        .groupby("user_id")
        .ffillTree("value", Seq("ts", "event_id"))
        .select("event_id", "value")
        .assign("filled_value", round(col("value"), 4))
        .select("event_id", "filled_value")
        .df
    },

    // grouped tree rolling (r14, q215/q216's sibling): per-user rolling
    // sum through the group-aware ghost-row overlap over range-split
    // groups. Integer cents (each output sums <= 3 exact-double BIGINTs,
    // < 2^53) so the value is bit-identical under any split or order.
    "q217_group_rolling_tree" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
      new graft.api.GRolling(ev, 3, Seq("ts", "event_id"), Seq("user_id"), 1)
        .sumTree("cents", "roll_cents")
        .select(col("event_id"), col("roll_cents").cast("long").as("roll_cents"))
    },

    // grouped tree holistic percentiles (r14, the family's 4th member):
    // the builtin grouped percentile holds one value-count map PER GROUP
    // in the agg buffer — 3 dictionary-valued groups over the whole fact
    // put a third of the fact's distinct values in ONE buffer at 100 TB.
    // exactGrouped range-sorts (group, value) so hot groups span
    // partitions and picks the order statistics positionally; the
    // interpolation reproduces the builtin bit-for-bit (QuantileSpec).
    // q14 stays on the builtin — the pandas-identical default for
    // well-distributed groups, exactly like q116 vs q215.
    "q218_group_quantile_tree" -> { (s, dir) =>
      graft.operators.Quantile.exactGrouped(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          Seq(0.25, 0.5, 0.75))
        .select(col("l_returnflag"),
          round(col("p0"), 4).as("q1_price"),
          round(col("p1"), 4).as("q2_price"),
          round(col("p2"), 4).as("q3_price"))
    })

  /** DuckDB replicas of the [[graft.functions.Hashing]] kernels (splitmix64
    * finalizer, FNV-1a over bytes), as temp macros prepended to the oracle
    * SQL of the hash-family-specific queries (q52/q53/q55/q56/q69).  All
    * 64-bit values live as HUGEINT residues in [0, 2⁶⁴); `wmul64` splits
    * the multiplicand into 32-bit halves so no intermediate exceeds the
    * 128-bit range.  Validated bit-for-bit against Hashing.scala — this is
    * what upgrades those queries from rows-only to full hash-checked.
    */
  private val duckHashMacros: String =
    """CREATE OR REPLACE TEMP MACRO wmul64(a, b) AS
      |  ((a % 4294967296) * b + (((a // 4294967296) * b) % 4294967296) * 4294967296)
      |  % 18446744073709551616;
      |CREATE OR REPLACE TEMP MACRO m64a(z) AS
      |  wmul64(xor(z, z // 1073741824), 13787848793156543929);
      |CREATE OR REPLACE TEMP MACRO m64b(z) AS
      |  wmul64(xor(z, z // 134217728), 10723151780598845931);
      |CREATE OR REPLACE TEMP MACRO mix64(z) AS
      |  xor(m64b(m64a((z + 11400714819323198485) % 18446744073709551616)),
      |      m64b(m64a((z + 11400714819323198485) % 18446744073709551616)) // 2147483648);
      |CREATE OR REPLACE TEMP MACRO fnv1a(s) AS
      |  list_reduce(list_prepend(14695981039346656037::HUGEINT,
      |    list_transform(list_filter(string_split(s, ''), c -> c <> ''),
      |      c -> ascii(c)::HUGEINT)),
      |    (h, b) -> wmul64(xor(h, b), 1099511628211));
      |CREATE OR REPLACE TEMP MACRO hash64(s) AS mix64(fnv1a(s));
      |CREATE OR REPLACE TEMP MACRO tosigned(x) AS
      |  CAST(CASE WHEN x >= 9223372036854775808::HUGEINT
      |       THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT);
      |CREATE OR REPLACE TEMP MACRO p2(b) AS
      |  CASE WHEN b = 63 THEN 9223372036854775808::HUGEINT
      |       ELSE CAST(1::BIGINT << CAST(b AS INTEGER) AS HUGEINT) END;
      |""".stripMargin

  /** DuckDB-equivalent SQL per query (column names aligned with the Spark
    * side).  Omitted keys get the driver's weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(l_quantity) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS disc_price
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin,
    "q03_join" ->
      """SELECT o_orderkey, round(sum(l_extendedprice), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q04_broadcast_join" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS total_qty,
        |  count(l_quantity) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND p_size <= 10
        |GROUP BY p_brand""".stripMargin,
    "q05_join5way" ->
      """SELECT n_name,
        |  ((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    + 50) // 100) / 100.0 AS revenue
        |FROM region, nation, customer, orders, lineitem
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
        |  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND l_orderkey = o_orderkey
        |GROUP BY n_name""".stripMargin,
    "q06_semi_anti" ->
      """SELECT kind, count(*) AS n FROM (
        |  SELECT 'with_orders' AS kind FROM customer
        |    WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT 'without_orders' AS kind FROM customer
        |    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |) GROUP BY kind""".stripMargin,
    "q07_outer_join" ->
      """SELECT c_custkey, coalesce(n_orders, 0) AS n_orders
        |FROM customer LEFT JOIN
        |  (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) o
        |  ON c_custkey = o.o_custkey""".stripMargin,
    "q08_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q09_value_counts" ->
      """SELECT o_orderpriority, count(*) AS count FROM orders
        |GROUP BY 1 ORDER BY count DESC, o_orderpriority""".stripMargin,
    "q10_nunique_idx" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  (SELECT l_orderkey FROM lineitem
        |   ORDER BY l_extendedprice DESC, l_orderkey DESC LIMIT 1) AS idxmax_price
        |FROM lineitem""".stripMargin,
    // Spark's skewness/kurtosis are population estimators (m3/m2^1.5,
    // m4/m2^2-3); DuckDB's built-ins are sample-corrected — compute the
    // population form explicitly.
    "q11_moments" ->
      """WITH mu AS (SELECT avg(l_discount) AS m FROM lineitem)
        |SELECT round(var_samp(l_quantity), 4) AS var_qty,
        |  round(stddev_samp(l_quantity), 4) AS std_qty,
        |  round(avg(pow(l_discount - m, 3)) / pow(avg(pow(l_discount - m, 2)), 1.5), 4)
        |    AS skew_disc,
        |  round(avg(pow(l_discount - m, 4)) / pow(avg(pow(l_discount - m, 2)), 2) - 3, 4)
        |    AS kurt_disc,
        |  round(avg(l_quantity), 4) AS mean_qty
        |FROM lineitem, mu""".stripMargin,
    "q12_quantile" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem""".stripMargin,
    "q13_corr_cov" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qe,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qe
        |FROM lineitem""".stripMargin,
    "q14_group_median" ->
      """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS med_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q15_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS st_f,
        |  count(*) FILTER (o_orderstatus = 'O') AS st_o,
        |  count(*) FILTER (o_orderstatus = 'P') AS st_p
        |FROM orders GROUP BY 1""".stripMargin,
    "q16_melt" ->
      """SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part""".stripMargin,
    "q17_case_when" ->
      """SELECT bal_bucket, round(sum(bal_clipped), 2) AS sum_clipped,
        |  count(bal_clipped) AS n
        |FROM (SELECT
        |  CASE WHEN c_acctbal < 0 THEN 'negative'
        |       WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_bucket,
        |  round(greatest(least(c_acctbal, 5000.0), 0.0), 2) AS bal_clipped
        |  FROM customer)
        |GROUP BY 1""".stripMargin,
    "q18_str_funcs" ->
      """SELECT p_partkey, upper(p_name) AS name_upper,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  trim(p_brand) AS brand_trim,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  contains(p_name, 'green') AS has_green,
        |  lpad(p_type, 30, '_') AS padded
        |FROM part""".stripMargin,
    "q19_dt_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd,
        |  date_trunc('month', o_orderdate) AS trunc_mo
        |FROM orders""".stripMargin,
    "q20_nlargest" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q21_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2""".stripMargin,
    "q22_isin_between" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        |WHERE s_nationkey IN (1, 3, 5, 7)
        |  AND s_acctbal BETWEEN 0.0 AND 5000.0
        |  AND s_suppkey % 2 = 0""".stripMargin,
    "q23_group_multi" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows,
        |  max(l_extendedprice) AS max_price,
        |  min(l_extendedprice) AS min_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q24_concat" ->
      """SELECT src, count(*) AS n FROM (
        |  SELECT c_name AS name, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_name AS name, 'supplier' AS src FROM supplier
        |) GROUP BY 1""".stripMargin,
    "q25_dropna" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events WHERE event_id % 7 <> 0
        |GROUP BY 1""".stripMargin,
    "q26_replace" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'FINISHED' WHEN 'O' THEN 'OPEN'
        |  WHEN 'P' THEN 'PENDING' ELSE o_orderstatus END AS o_orderstatus,
        |  count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q27_get_dummies" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_notspec,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM orders GROUP BY 1""".stripMargin,
    "q28_setops" ->
      """SELECT kind, count(*) AS n FROM (
        |  SELECT 'both' AS kind FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'f_only' AS kind FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |) GROUP BY 1""".stripMargin,
    "q29_concat_axis1" ->
      """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |           FROM supplier GROUP BY 1) s USING (nationkey)""".stripMargin,
    "q41_mode" ->
      """SELECT l_quantity AS mode_qty FROM (
        |  SELECT l_quantity, count(*) AS c FROM lineitem GROUP BY 1
        |  ORDER BY c DESC, l_quantity LIMIT 1)""".stripMargin,
    "q42_group_firstlast" ->
      """SELECT l_returnflag,
        |  first(l_extendedprice ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |    l_extendedprice) AS first_price,
        |  last(l_extendedprice ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |    l_extendedprice) AS last_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q43_group_apply" ->
      """SELECT event_id,
        |  CAST(CAST(round(value * 100) AS BIGINT) * count(*) OVER w
        |    - sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS demeaned_scaled
        |FROM events WINDOW w AS (PARTITION BY user_id)""".stripMargin,
    "q44_custom_udaf" ->
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_quantity))), 4) AS geo_qty,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q45_expanding" ->
      """SELECT event_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS exp_sum
        |FROM events""".stripMargin,
    "q46_rolling_range" ->
      """SELECT event_id, round(range_sum, 4) AS range_sum FROM (
        |  SELECT event_id, sum(value) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS range_sum
        |  FROM events)""".stripMargin,
    "q47_histogram" ->
      """SELECT bin, count(*) AS n, 0.0 + bin * 10000.0 AS bin_lo,
        |  0.0 + (bin + 1) * 10000.0 AS bin_hi
        |FROM (SELECT CAST(least(floor(l_extendedprice / 10000.0), 10) AS INTEGER) AS bin
        |      FROM lineitem WHERE l_extendedprice BETWEEN 0.0 AND 110000.0)
        |GROUP BY bin""".stripMargin,
    "q48_digitize" ->
      """SELECT bucket, count(*) AS n FROM (
        |  SELECT CAST((CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN c_acctbal >= 1000 THEN 1 ELSE 0 END)
        |    + (CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END) AS INTEGER) AS bucket
        |  FROM customer)
        |GROUP BY 1""".stripMargin,
    "q49_corr_matrix" ->
      """SELECT 'l_quantity' AS var1, 'l_extendedprice' AS var2,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount',
        |  round(corr(l_quantity, l_discount), 6) FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount',
        |  round(corr(l_extendedprice, l_discount), 6) FROM lineitem""".stripMargin,
    "q30_rolling_global" ->
      """SELECT event_id, round(roll_sum, 4) AS roll_sum FROM (
        |  SELECT event_id, sum(value) OVER (
        |    ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
        |  ) AS roll_sum FROM events)""".stripMargin,
    "q31_rolling_bykey" ->
      """SELECT event_id, round(roll_mean, 4) AS roll_mean FROM (
        |  SELECT event_id, avg(value) OVER (
        |    PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
        |  ) AS roll_mean FROM events)""".stripMargin,
    "q32_cumsum" ->
      """SELECT event_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |  ) AS BIGINT) AS cum_cents
        |FROM events""".stripMargin,
    "q33_shift_diff" ->
      """SELECT event_id, round(prev_value, 4) AS prev_value,
        |  round(value - prev_value, 4) AS diff_value FROM (
        |  SELECT event_id, value,
        |    lag(value, 1) OVER (ORDER BY ts, event_id) AS prev_value
        |  FROM events)""".stripMargin,
    "q34_resample" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ts, count(*) AS n,
        |  round(sum(value), 4) AS sum_value,
        |  round(max(value), 4) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    "q35_ohlc" ->
      """SELECT bts AS ts,
        |  round(first(value ORDER BY ots, event_id), 4) AS open,
        |  round(max(value), 4) AS high,
        |  round(min(value), 4) AS low,
        |  round(last(value ORDER BY ots, event_id), 4) AS close
        |FROM (SELECT time_bucket(INTERVAL '1 hour', ts) AS bts, ts AS ots,
        |        event_id, value FROM events)
        |GROUP BY bts""".stripMargin,
    "q36_ffill" ->
      """SELECT event_id, round(filled_value, 4) AS filled_value FROM (
        |  SELECT event_id,
        |    last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
        |      OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value
        |  FROM events)""".stripMargin,
    "q37_asof_backward" ->
      """SELECT e.event_id, o.last_order_price
        |FROM events e ASOF LEFT JOIN (
        |  SELECT o_custkey AS user_id, o_orderdate AS ots,
        |    round(max(o_totalprice), 2) AS last_order_price
        |  FROM orders GROUP BY 1, 2) o
        |ON e.user_id = o.user_id AND e.ts >= o.ots""".stripMargin,
    "q38_asof_tolerance" ->
      """SELECT e.event_id,
        |  CASE WHEN e.ts - o.ots <= INTERVAL '7 days' THEN o.recent_price END
        |    AS recent_price
        |FROM events e ASOF LEFT JOIN (
        |  SELECT o_custkey AS user_id, o_orderdate AS ots,
        |    round(max(o_totalprice), 2) AS recent_price
        |  FROM orders GROUP BY 1, 2) o
        |ON e.user_id = o.user_id AND e.ts >= o.ots""".stripMargin,
    "q39_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "q40_json" ->
      """SELECT json_extract_string(props, '$.device') AS device, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q50_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS group_size
        |FROM (SELECT doc_id,
        |        md5(array_to_string(list_sort(
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '')), ' ')) AS k
        |      FROM documents)
        |GROUP BY k""".stripMargin,
    "q54_ann_bruteforce" ->
      """SELECT query_id, neighbor_id, round(sim, 4) AS sim, CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY sim DESC, c.vec_id) AS rk
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rk <= 5""".stripMargin,
    // The LSH banding is a candidate generator; the OUTPUT is defined by
    // the exact-Jaccard verification (≥ 0.8), so the independent oracle is
    // all-pairs bigram-set Jaccard over distinct texts (size-band
    // `5·min ≥ 4·max` is implied by jaccard ≥ 0.8, not an approximation).
    // A recall miss by the banding would surface here as a row-count diff.
    "q51_minhash_neardups" ->
      """WITH grp AS (SELECT text, min(doc_id) AS rep FROM documents GROUP BY 1),
        |d AS (SELECT rep,
        |        CASE WHEN len(t) < 2 THEN t
        |             ELSE list_distinct(list_transform(range(1, len(t)),
        |                    i -> t[i] || ' ' || t[i+1])) END AS toks
        |      FROM (SELECT rep, list_filter(string_split_regex(text, '\s+'),
        |              x -> x <> '') AS t FROM grp)),
        |g AS (SELECT rep, len(toks) AS sz, unnest(toks) AS gram FROM d),
        |rp AS (
        |  SELECT ra, rb, cnt / (sa + sb - cnt) AS jac FROM (
        |    SELECT a.rep AS ra, b.rep AS rb, a.sz AS sa, b.sz AS sb,
        |      count(*)::DOUBLE AS cnt
        |    FROM g a JOIN g b ON a.gram = b.gram AND a.rep < b.rep
        |      AND a.sz * 5 >= b.sz * 4 AND b.sz * 5 >= a.sz * 4
        |    GROUP BY 1, 2, 3, 4)
        |  WHERE cnt / (sa + sb - cnt) >= 0.8),
        |mem AS (SELECT doc_id, rep FROM documents JOIN grp USING (text)),
        |pairs AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, 1.0 AS jac
        |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT least(ma.doc_id, mb.doc_id) AS doc1,
        |         greatest(ma.doc_id, mb.doc_id) AS doc2, jac
        |  FROM rp JOIN mem ma ON ma.rep = rp.ra JOIN mem mb ON mb.rep = rp.rb)
        |SELECT doc1, doc2, round(jac, 4) AS jaccard FROM pairs""".stripMargin,
    // full hash-family replica (Charikar simhash over mix64∘FNV-1a token
    // hashes) via the HUGEINT macros; the pigeonhole chunk join on the
    // engine side is exact for distance ≤ chunks−1, so all-pairs hamming
    // at representative level is the same result computed independently
    "q52_simhash_neardups" -> (duckHashMacros +
      """WITH grp AS (SELECT text, min(doc_id) AS rep FROM documents GROUP BY 1),
        |toks AS (SELECT rep, unnest(list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '')) AS tok FROM grp),
        |dict AS (SELECT tok, hash64(tok) AS h FROM (SELECT DISTINCT tok FROM toks)),
        |votes AS (SELECT rep, b,
        |            sum(CASE WHEN (h // p2(b)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM (SELECT rep, h FROM toks JOIN dict USING (tok)),
        |               range(64) r(b) GROUP BY 1, 2),
        |fp AS (SELECT g.rep, coalesce(tosigned(f), 0) AS f FROM grp g LEFT JOIN
        |       (SELECT rep, sum(CASE WHEN v > 0 THEN p2(b) ELSE 0::HUGEINT END) AS f
        |        FROM votes GROUP BY 1) v ON g.rep = v.rep),
        |rp AS (SELECT a.rep AS ra, b.rep AS rb, bit_count(xor(a.f, b.f)) AS hamming
        |       FROM fp a, fp b WHERE a.rep < b.rep
        |         AND bit_count(xor(a.f, b.f)) <= 3),
        |mem AS (SELECT doc_id, rep FROM documents JOIN grp USING (text)),
        |pairs AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, 0 AS hamming
        |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT least(ma.doc_id, mb.doc_id) AS doc1,
        |         greatest(ma.doc_id, mb.doc_id) AS doc2, hamming
        |  FROM rp JOIN mem ma ON ma.rep = rp.ra JOIN mem mb ON mb.rep = rp.rb)
        |SELECT doc1, doc2, hamming FROM pairs""".stripMargin),
    // winnowing replica: same k=8 grams, window-16 argmin with ties to the
    // LAST (largest) position — realised as min(struct(signed_hash, -pos))
    // over a 16-row frame; consecutive-dedup equals DISTINCT because the
    // selected position is non-decreasing as the window slides
    "q53_fingerprint" -> (duckHashMacros +
      """WITH grp AS (SELECT text, min(doc_id) AS tid FROM documents GROUP BY 1),
        |norm AS (SELECT tid, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        |         FROM grp),
        |gr AS (SELECT tid,
        |         unnest(list_transform(range(0, length(s) - 7),
        |           i -> substr(s, CAST(i+1 AS INTEGER), 8))) AS gram,
        |         unnest(range(0, length(s) - 7)) AS pos, length(s) - 7 AS ng
        |       FROM norm WHERE length(s) >= 8),
        |dict AS (SELECT gram, hash64(gram) AS gh
        |         FROM (SELECT DISTINCT gram FROM gr)),
        |rows_ AS (SELECT tid, pos, ng, gh, tosigned(gh) AS sh
        |          FROM gr JOIN dict USING (gram)),
        |sel AS (SELECT tid, pos, ng,
        |          min(struct_pack(h := sh, np := -pos)) OVER (
        |            PARTITION BY tid ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS m
        |        FROM rows_),
        |chosen AS (SELECT DISTINCT tid, -(m.np) AS idx FROM sel
        |           WHERE pos <= ng - 16 OR (ng < 16 AND pos = 0)),
        |fpx AS (SELECT c.tid,
        |          bit_xor(tosigned(mix64(xor(r.gh, CAST(c.idx AS HUGEINT))))) AS fp
        |        FROM chosen c JOIN rows_ r ON r.tid = c.tid AND r.pos = c.idx
        |        GROUP BY 1),
        |tfp AS (SELECT n.tid,
        |          CASE WHEN length(n.s) < 8 THEN tosigned(hash64(n.s))
        |               ELSE coalesce(f.fp, 0) END AS fingerprint
        |        FROM norm n LEFT JOIN fpx f ON f.tid = n.tid)
        |SELECT d.doc_id, t.fingerprint
        |FROM documents d JOIN grp USING (text) JOIN tfp t ON t.tid = grp.tid"""
        .stripMargin),
    // sign-LSH replica: deterministic hyperplane components
    // mix64(mix64(p) ⊕ d) / Long.MaxValue, index-ordered dot via
    // list_inner_product (bit-equal to the engine's sequential loop)
    "q55_ann_lsh" -> (duckHashMacros +
      """WITH planes_tbl AS (
        |  SELECT p, list_transform(range(0, 64), d ->
        |    tosigned(mix64(xor(mix64(CAST(p AS HUGEINT)), CAST(d AS HUGEINT))))::DOUBLE
        |      / 9223372036854775807) AS pv
        |  FROM range(4) t(p)),
        |bkt AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sum(CASE WHEN list_inner_product(embedding::DOUBLE[], pv) > 0
        |        THEN (1::BIGINT << CAST(p AS INTEGER)) ELSE 0 END) AS bucket
        |  FROM embeddings, planes_tbl GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, round(sim, 4) AS sim, CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.v, c.v) /
        |      (sqrt(list_inner_product(q.v, q.v)) *
        |       sqrt(list_inner_product(c.v, c.v))) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY sim DESC, c.vec_id) AS rk
        |  FROM bkt q JOIN bkt c ON q.bucket = c.bucket
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
        |WHERE rk <= 3""".stripMargin),
    "q56_lsh_buckets" -> (duckHashMacros +
      """WITH planes_tbl AS (
        |  SELECT p, list_transform(range(0, 64), d ->
        |    tosigned(mix64(xor(mix64(CAST(p AS HUGEINT)), CAST(d AS HUGEINT))))::DOUBLE
        |      / 9223372036854775807) AS pv
        |  FROM range(12) t(p)),
        |bkt AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN list_inner_product(embedding::DOUBLE[], pv) > 0
        |                     THEN (1::BIGINT << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings, planes_tbl GROUP BY 1)
        |SELECT bucket, count(*) AS n_vectors FROM bkt GROUP BY 1""".stripMargin),
    // half-up rounding via floor(x*1e6+0.5)/1e6 on BOTH sides: plain
    // round(x, 6) is half-even here and half-up in Spark, which flips on
    // exact boundaries (a doc at sf0.001 scores exactly 0.5046875)
    "q58_quality" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        |  floor(len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE /
        |    greatest(length(text), 1) * 1000000 + 0.5) / 1000000 AS punct_ratio,
        |  floor(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b'))::DOUBLE /
        |    greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1)
        |    * 1000000 + 0.5) / 1000000 AS stopword_ratio,
        |  floor(least(1.0, greatest(0.0,
        |    0.25 * least(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE / 100.0, 1.0)
        |    + 0.25 * (1.0 - floor(len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE /
        |        greatest(length(text), 1) * 1000000 + 0.5) / 1000000 * 10)
        |    + 0.25 * least(floor(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b'))::DOUBLE /
        |        greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1)
        |        * 1000000 + 0.5) / 1000000 * 5, 1.0)
        |    + 0.25 * least(floor((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE /
        |        greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1)
        |        * 1000000 + 0.5) / 1000000 / 8.0, 1.0))) * 1000000 + 0.5) / 1000000
        |    AS quality_score
        |FROM documents""".stripMargin,
    "q59_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
        |FROM documents""".stripMargin,
    "q60_multimodal" ->
      """SELECT doc_id AS media_id, 'image' AS modality,
        |  octet_length(encode(text)) AS byte_len
        |FROM documents""".stripMargin,
    "q61_embedding_neardups" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 0 AND a.vec_id < b.vec_id
        |  AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.95""".stripMargin,
    // bucketed near-dup replica: same sign-LSH planes as q55/q56, pairs
    // whose bucket keys differ in ≤ 1 bit, exact-duplicate groups expanded
    "q114_embedding_neardups_bucketed" -> (duckHashMacros +
      """WITH grp AS (
        |  SELECT embedding AS v, min(vec_id) AS rep, list(vec_id) AS ids
        |  FROM embeddings GROUP BY 1),
        |mem AS (SELECT rep, unnest(ids) AS m,
        |          sqrt(list_inner_product(v::DOUBLE[], v::DOUBLE[])) AS nrm
        |        FROM grp),
        |planes_tbl AS (
        |  SELECT p, list_transform(range(0, 64), d ->
        |    tosigned(mix64(xor(mix64(CAST(p AS HUGEINT)), CAST(d AS HUGEINT))))::DOUBLE
        |      / 9223372036854775807) AS pv
        |  FROM range(8) t(p)),
        |reps AS (SELECT rep, v::DOUBLE[] AS vd,
        |           sqrt(list_inner_product(v::DOUBLE[], v::DOUBLE[])) AS nrm
        |         FROM grp
        |         WHERE list_inner_product(v::DOUBLE[], v::DOUBLE[]) > 0),
        |bkt AS (SELECT r.rep, r.vd, r.nrm,
        |          sum(CASE WHEN list_inner_product(r.vd, pv) > 0
        |              THEN (1::BIGINT << CAST(p AS INTEGER)) ELSE 0 END) AS bucket
        |        FROM reps r, planes_tbl GROUP BY 1, 2, 3),
        |rp AS (SELECT a.rep AS ra, b.rep AS rb,
        |         list_inner_product(a.vd, b.vd) / (a.nrm * b.nrm) AS sim
        |       FROM bkt a JOIN bkt b
        |         ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.rep < b.rep
        |       WHERE list_inner_product(a.vd, b.vd) / (a.nrm * b.nrm) >= 0.95),
        |pairs AS (
        |  SELECT a.m AS id_a, b.m AS id_b, 1.0 AS sim
        |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.m < b.m AND a.nrm > 0
        |  UNION ALL
        |  SELECT least(ma.m, mb.m) AS id_a, greatest(ma.m, mb.m) AS id_b, sim
        |  FROM rp JOIN mem ma ON ma.rep = rp.ra JOIN mem mb ON mb.rep = rp.rb)
        |SELECT id_a, id_b, round(sim, 4) AS sim FROM pairs""".stripMargin),
    "q62_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations, max(n_name) AS max_name
        |FROM nation GROUP BY 1""".stripMargin,
    "q63_json_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n_supp, round(sum(s_acctbal), 2) AS sum_bal
        |FROM supplier GROUP BY 1""".stripMargin,
    "q64_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
        |    AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q65_asof_forward" ->
      """SELECT e.event_id, o.next_price
        |FROM events e ASOF LEFT JOIN (
        |  SELECT o_custkey AS user_id, o_orderdate AS ots,
        |    round(max(o_totalprice), 2) AS next_price
        |  FROM orders GROUP BY 1, 2) o
        |ON e.user_id = o.user_id AND e.ts <= o.ots""".stripMargin,
    "q66_dedup_keepfirst" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q115_asof_global" ->
      """SELECT e.event_id, round(m.value, 4) AS marker_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT ts, value FROM events WHERE event_id % 10 = 0) m
        |ON e.ts >= m.ts""".stripMargin,
    // product() over the running frame multiplies in window order on both
    // engines — bit-identical for the <=7-row per-order frames
    "q116_group_cumprod" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  round(product(1.0 + l_discount) OVER (
        |    PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_discount
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_growth
        |FROM lineitem""".stripMargin,
    "q117_pivot_firstlast" ->
      """SELECT o_orderpriority,
        |  round(first(o_totalprice ORDER BY o_orderkey)
        |    FILTER (WHERE o_orderstatus = 'F'), 2) AS first_F,
        |  round(first(o_totalprice ORDER BY o_orderkey)
        |    FILTER (WHERE o_orderstatus = 'O'), 2) AS first_O,
        |  round(first(o_totalprice ORDER BY o_orderkey)
        |    FILTER (WHERE o_orderstatus = 'P'), 2) AS first_P,
        |  round(last(o_totalprice ORDER BY o_orderkey)
        |    FILTER (WHERE o_orderstatus = 'F'), 2) AS last_F,
        |  round(last(o_totalprice ORDER BY o_orderkey)
        |    FILTER (WHERE o_orderstatus = 'O'), 2) AS last_O,
        |  round(last(o_totalprice ORDER BY o_orderkey)
        |    FILTER (WHERE o_orderstatus = 'P'), 2) AS last_P
        |FROM orders GROUP BY 1""".stripMargin,
    "q118_group_valuecounts" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  round(count(*)::DOUBLE /
        |    sum(count(*)) OVER (PARTITION BY o_orderpriority), 6) AS frac
        |FROM orders GROUP BY 1, 2""".stripMargin,
    // trimmed mean = (sum - one min - one max)/(n-2), the same exact
    // integer-cents arithmetic the engine kernel runs
    "q119_rolling_apply_keyed" ->
      """SELECT event_id,
        |  CASE WHEN cnt >= 3
        |    THEN round((s - mn - mx) / (cnt - 2) / 100.0, 4) END AS trimmed
        |FROM (
        |  SELECT event_id, sum(cents) OVER w AS s, min(cents) OVER w AS mn,
        |    max(cents) OVER w AS mx, count(cents) OVER w AS cnt
        |  FROM (SELECT event_id, user_id, ts,
        |          CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))""".stripMargin,
    // DuckDB replica of Hashing.portableBucket (multiply-xorshift rounds,
    // buckets from the top of the 32-bit space), seeds 0 (split) / 1 (sample)
    "q67_sample" ->
      """WITH kf AS (
        |  SELECT xor(l_orderkey*10 + l_linenumber,
        |             (l_orderkey*10 + l_linenumber) >> 27) AS fk
        |  FROM lineitem),
        |k AS (
        |  SELECT fk % 100000000 AS k0,
        |         fk % 100000000 + 7919 AS k1
        |  FROM kf),
        |a1 AS (SELECT (k0*2654435761)%4294967296 AS h1a,
        |              (k1*2654435761)%4294967296 AS h1b FROM k),
        |a2 AS (SELECT xor(h1a, h1a>>16) AS x1a, xor(h1b, h1b>>16) AS x1b FROM a1),
        |a3 AS (SELECT (x1a*1597334677)%4294967296 AS h2a,
        |              (x1b*1597334677)%4294967296 AS h2b FROM a2),
        |a4 AS (SELECT xor(h2a, h2a>>13) AS x2a, xor(h2b, h2b>>13) AS x2b FROM a3),
        |b AS (SELECT (x2a*10000)//4294967296 AS splitb,
        |             (x2b*10000)//4294967296 AS sampb FROM a4),
        |tagged AS (
        |  SELECT CASE WHEN splitb < 8000 THEN 'train' ELSE 'test' END AS split FROM b
        |  UNION ALL
        |  SELECT 'sample' AS split FROM b WHERE sampb < 1000)
        |SELECT split, count(*) AS n FROM tagged GROUP BY 1""".stripMargin,
    // the tolerance assertion is evaluated on the Spark side (approx vs
    // exact in one plan); the oracle just pins the expected verdict
    "q68_nunique_approx" ->
      "SELECT CAST(1 AS BOOLEAN) AS within_tolerance",
    // full generator replica: same splitmix64-derived dyadic uniforms per
    // logical row, exact-integer x·2⁵² sums (see the engine-side comment)
    "q69_timeseries" -> (duckHashMacros +
      """WITH r AS (SELECT unnest(range(0, 100000)) AS rid),
        |h AS (SELECT rid,
        |  (mix64(xor(CAST(rid AS HUGEINT), mix64(42::HUGEINT))) // 2048)::DOUBLE
        |    / 9007199254740992 AS un,
        |  (mix64(xor(CAST(rid AS HUGEINT), mix64(43::HUGEINT))) // 2048)::DOUBLE
        |    / 9007199254740992 AS ux,
        |  (mix64(xor(CAST(rid AS HUGEINT), mix64(44::HUGEINT))) // 2048)::DOUBLE
        |    / 9007199254740992 AS uy
        |  FROM r),
        |v AS (SELECT
        |  ['Alice','Bob','Charlie','Dan','Edith','Frank','George','Hannah',
        |   'Ingrid','Jerry','Kevin','Laura','Michael','Norbert','Oliver',
        |   'Patricia','Quinn','Ray','Sarah','Tim','Ursula','Victor','Wendy',
        |   'Xavier','Yvonne','Zelda'][CAST(floor(un * 26) AS INTEGER) + 1] AS name,
        |  CAST((ux * 2 - 1) * 4503599627370496 AS HUGEINT) AS x52,
        |  CAST((uy * 2 - 1) * 4503599627370496 AS HUGEINT) AS y52
        |  FROM h)
        |SELECT name,
        |  round(sum(x52)::DOUBLE / 4503599627370496 / count(*), 4) AS mean_x,
        |  round(sum(y52)::DOUBLE / 4503599627370496, 4) AS sum_y,
        |  count(*) AS n
        |FROM v GROUP BY 1""".stripMargin),
    "q70_str_surface" ->
      """SELECT p_partkey,
        |  concat(upper(substr(p_name, 1, 1)), lower(substr(p_name, 2))) AS cap_name,
        |  lpad(p_brand, 12, '0') AS zbrand,
        |  regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        |  CAST(len(regexp_extract_all(p_name, 'a')) AS BIGINT) AS n_a,
        |  translate(p_brand,
        |    'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |    'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swap_brand,
        |  CASE WHEN starts_with(p_type, 'STANDARD') THEN substr(p_type, 9)
        |       ELSE p_type END AS no_std,
        |  starts_with(p_name, 'b') AS starts_b,
        |  CAST(octet_length(encode(p_name)) AS INTEGER) AS enc_len,
        |  p_name AS dec_roundtrip,
        |  CAST(strpos(p_name, ' ') - 1 AS BIGINT) AS idx_sp,
        |  CAST(length(p_name) - strpos(reverse(p_name), ' ') AS BIGINT) AS ridx_sp,
        |  CASE WHEN strpos(p_type, ' ') > 0
        |       THEN substr(p_type, 1,
        |              length(p_type) - strpos(reverse(p_type), ' '))
        |       ELSE '' END AS rp_head,
        |  CASE WHEN strpos(p_type, ' ') > 0
        |       THEN substr(p_type,
        |              length(p_type) - strpos(reverse(p_type), ' ') + 2)
        |       ELSE p_type END AS rp_tail
        |FROM part""".stripMargin,
    "q71_dt_surface" ->
      """SELECT o_orderkey,
        |  dayname(o_orderdate) AS day_name,
        |  monthname(o_orderdate) AS month_name,
        |  CAST(day(last_day(o_orderdate)) AS INTEGER) AS dim,
        |  day(o_orderdate) = 1 AS is_ms,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  strftime(o_orderdate, '%Y-%m') AS period
        |FROM orders""".stripMargin,
    "q72_describe" ->
      """SELECT 'count' AS stat, CAST(count(l_quantity) AS DOUBLE) AS l_quantity FROM lineitem
        |UNION ALL SELECT 'mean', round(avg(l_quantity), 4) FROM lineitem
        |UNION ALL SELECT 'std', round(stddev_samp(l_quantity), 4) FROM lineitem
        |UNION ALL SELECT 'min', round(min(l_quantity), 4) FROM lineitem
        |UNION ALL SELECT 'p50', round(quantile_cont(l_quantity, 0.5), 4) FROM lineitem
        |UNION ALL SELECT 'max', round(max(l_quantity), 4) FROM lineitem""".stripMargin,
    "q73_rolling_minmax" ->
      """SELECT event_id, round(roll_min, 4) AS roll_min,
        |  round(roll_max, 4) AS roll_max, round(roll_std, 4) AS roll_std
        |FROM (
        |  SELECT event_id,
        |    min(value) OVER w AS roll_min,
        |    max(value) OVER w AS roll_max,
        |    CASE WHEN count(*) OVER w >= 2 THEN stddev_samp(value) OVER w END AS roll_std
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))""".stripMargin,
    "q74_group_headtail" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin,
    "q75_value_counts_norm" ->
      """SELECT o_orderpriority,
        |  round(count(*)::DOUBLE / (SELECT count(*) FROM orders), 6) AS proportion
        |FROM orders GROUP BY 1""".stripMargin,
    "q76_map_overlap_udf" ->
      """SELECT event_id, round(roll_med, 4) AS roll_med FROM (
        |  SELECT event_id, median(value) OVER (
        |    ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_med
        |  FROM events)""".stripMargin,
    "q77_loc" ->
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'""".stripMargin,
    "q78_merge_indicator" ->
      """SELECT _merge, count(*) AS n FROM (
        |  SELECT CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL THEN 'both'
        |              WHEN c.c_custkey IS NOT NULL THEN 'left_only'
        |              ELSE 'right_only' END AS _merge
        |  FROM customer c
        |  FULL JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |    ON c.c_custkey = o.o_custkey)
        |GROUP BY 1""".stripMargin,
    "q79_bfill" ->
      """SELECT event_id, round(bfilled_value, 4) AS bfilled_value FROM (
        |  SELECT event_id,
        |    first_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
        |      OVER (ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS bfilled_value
        |  FROM events)""".stripMargin,
    "q80_asof_nearest" ->
      """WITH ords AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS ots,
        |    round(max(o_totalprice), 2) AS near_price
        |  FROM orders GROUP BY 1, 2),
        |b AS (
        |  SELECT e.event_id, o.near_price, e.ts - o.ots AS dist
        |  FROM events e ASOF LEFT JOIN ords o
        |  ON e.user_id = o.user_id AND e.ts >= o.ots),
        |f AS (
        |  SELECT e.event_id, o.near_price, o.ots - e.ts AS dist
        |  FROM events e ASOF LEFT JOIN ords o
        |  ON e.user_id = o.user_id AND e.ts <= o.ots)
        |SELECT b.event_id,
        |  CASE WHEN b.dist IS NOT NULL AND (f.dist IS NULL OR b.dist <= f.dist)
        |       THEN b.near_price ELSE f.near_price END AS near_price
        |FROM b JOIN f USING (event_id)""".stripMargin,
    "q81_astype" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_str,
        |  strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS reparsed,
        |  CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
        |  CAST(o_orderkey AS VARCHAR) AS key_str
        |FROM orders""".stripMargin,
    "q83_rolling_center" ->
      """SELECT event_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS roll_csum
        |FROM events""".stripMargin,
    "q84_group_prod_anyall" ->
      """SELECT l_partkey, round(product(1.0 + l_discount), 4) AS prod_factor,
        |  bool_or(l_quantity > 25) AS any_big,
        |  bool_and(l_quantity > 25) AS all_big
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q85_is_monotonic" ->
      """SELECT user_id, bool_and(CASE WHEN prev IS NULL THEN true
        |    ELSE value >= prev END) AS monotonic_inc
        |FROM (SELECT user_id, value,
        |        lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |      FROM events)
        |GROUP BY 1""".stripMargin,
    "q86_len" ->
      "SELECT count(*) AS n_rows FROM lineitem",
    "q87_autocorr" ->
      """SELECT round(corr(value, prev), 4) AS autocorr FROM (
        |  SELECT value, lag(value, 1) OVER (ORDER BY ts, event_id) AS prev
        |  FROM events)""".stripMargin,
    // argmax with list-order tie-break: chained CASE = the greatest-struct
    // trick on the Spark side
    "q57_langid" ->
      """SELECT lang, lang_pred, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE
        |      WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en >= h_zh THEN 'en'
        |      WHEN h_de >= h_fr AND h_de >= h_es AND h_de >= h_zh THEN 'de'
        |      WHEN h_fr >= h_es AND h_fr >= h_zh THEN 'fr'
        |      WHEN h_es >= h_zh THEN 'es'
        |      ELSE 'zh' END AS lang_pred
        |  FROM (SELECT lang,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS h_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein)\b')) AS h_de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans)\b')) AS h_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|en|por)\b')) AS h_es,
        |    len(regexp_extract_all(lower(text), '\b(的|是|了|在|我|有|和)\b')) AS h_zh
        |  FROM documents))
        |GROUP BY 1, 2""".stripMargin,
    "q88_categorize" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS INTEGER) AS prio_code
        |FROM orders""".stripMargin,
    "q89_series_dot" ->
      """SELECT CAST(sum(CAST(round(l_discount * 100) AS BIGINT) *
        |  CAST(l_quantity AS BIGINT)) AS BIGINT) AS dot_scaled
        |FROM lineitem""".stripMargin,
    "q90_ttest" ->
      """SELECT round((avg(l_quantity) - 25.5) /
        |  (stddev_samp(l_quantity) / sqrt(count(l_quantity))), 4) AS t_stat
        |FROM lineitem""".stripMargin,
    "q96_gradient" ->
      """SELECT event_id,
        |  round(CASE WHEN prev IS NULL THEN next - value
        |             WHEN next IS NULL THEN value - prev
        |             ELSE (next - prev) / 2 END, 4) AS grad
        |FROM (SELECT event_id, value,
        |        lag(value) OVER w AS prev, lead(value) OVER w AS next
        |      FROM events WINDOW w AS (ORDER BY ts, event_id))""".stripMargin,
    "q95_histogram2d" ->
      """SELECT CAST(least(floor(l_quantity / 10.0), 4) AS INTEGER) AS bin_x,
        |  CAST(least(floor(l_discount / 0.025), 3) AS INTEGER) AS bin_y,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_quantity BETWEEN 0.0 AND 50.0 AND l_discount BETWEEN 0.0 AND 0.1
        |GROUP BY 1, 2""".stripMargin,
    "q94_group_transform" ->
      """SELECT event_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id)
        |    AS BIGINT) AS user_total_cents
        |FROM events""".stripMargin,
    "q93_sql" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // composed from the q58 quality expr, q57 langid argmax, q50 dup key
    "q92_pipeline" ->
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        |    floor(least(1.0, greatest(0.0,
        |      0.25 * least(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE / 100.0, 1.0)
        |      + 0.25 * (1.0 - floor(len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE /
        |          greatest(length(text), 1) * 1000000 + 0.5) / 1000000 * 10)
        |      + 0.25 * least(floor(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b'))::DOUBLE /
        |          greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1)
        |          * 1000000 + 0.5) / 1000000 * 5, 1.0)
        |      + 0.25 * least(floor((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE /
        |          greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1)
        |          * 1000000 + 0.5) / 1000000 / 8.0, 1.0))) * 1000000 + 0.5) / 1000000
        |      AS quality_score
        |  FROM documents),
        |filt AS (SELECT * FROM scored WHERE quality_score >= 0.4),
        |lang AS (
        |  SELECT doc_id, text, n_tokens,
        |    CASE
        |      WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en >= h_zh THEN 'en'
        |      WHEN h_de >= h_fr AND h_de >= h_es AND h_de >= h_zh THEN 'de'
        |      WHEN h_fr >= h_es AND h_fr >= h_zh THEN 'fr'
        |      WHEN h_es >= h_zh THEN 'es'
        |      ELSE 'zh' END AS lang_pred
        |  FROM (SELECT doc_id, text, n_tokens,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS h_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein)\b')) AS h_de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans)\b')) AS h_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|en|por)\b')) AS h_es,
        |    len(regexp_extract_all(lower(text), '\b(的|是|了|在|我|有|和)\b')) AS h_zh
        |  FROM filt)),
        |dedup AS (
        |  SELECT lang_pred, n_tokens, row_number() OVER (
        |    PARTITION BY md5(array_to_string(list_sort(
        |      list_filter(string_split_regex(text, '\s+'), x -> x <> '')), ' '))
        |    ORDER BY doc_id) AS rn
        |  FROM lang)
        |SELECT lang_pred, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM dedup WHERE rn = 1 GROUP BY 1""".stripMargin,
    "q91_str_split_expand" ->
      """SELECT p_partkey,
        |  string_split(p_name, ' ')[1] AS tok0,
        |  string_split(p_name, ' ')[2] AS tok1,
        |  CASE WHEN instr(p_type, ' ') > 0
        |       THEN substr(p_type, 1, instr(p_type, ' ') - 1) ELSE p_type END AS part_head,
        |  CASE WHEN instr(p_type, ' ') > 0 THEN ' ' ELSE '' END AS part_sep,
        |  CASE WHEN instr(p_type, ' ') > 0
        |       THEN substr(p_type, instr(p_type, ' ') + 1) ELSE '' END AS part_tail,
        |  CAST(instr(p_name, 'o') - 1 AS INTEGER) AS find_o,
        |  -- initcap equivalent: capitalize each space-separated word
        |  array_to_string(list_transform(string_split(lower(p_brand), ' '),
        |    w -> concat(upper(substr(w, 1, 1)), substr(w, 2))), ' ') AS brand_title
        |FROM part""".stripMargin,
    // pandas first-occurrence tie-break: BOTH idxmin and idxmax resolve
    // value ties to the smallest index
    "q97_group_idxminmax" ->
      """SELECT l_returnflag,
        |  first(l_orderkey ORDER BY l_extendedprice DESC, l_orderkey ASC)
        |    AS idx_max_price,
        |  first(l_orderkey ORDER BY l_extendedprice ASC, l_orderkey ASC)
        |    AS idx_min_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q98_group_nunique" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1""".stripMargin,
    // pandas-adjusted G1/G2 — exactly DuckDB's sample skewness/kurtosis
    // builtins, so the oracle is the independent engine's own formula
    "q99_group_moments" ->
      """SELECT l_returnflag,
        |  round(skewness(l_discount), 4) AS skew_disc,
        |  round(kurtosis(l_discount), 4) AS kurt_disc,
        |  round(stddev_samp(l_quantity) / sqrt(count(l_quantity)), 4) AS sem_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q100_align_binop" ->
      """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        |  round(c.bal + s.bal, 2) AS bal_sum
        |FROM (SELECT c_nationkey AS nationkey, sum(c_acctbal) AS bal
        |      FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nationkey, sum(s_acctbal) AS bal
        |           FROM supplier GROUP BY 1) s USING (nationkey)""".stripMargin,
    "q101_clip_mask" ->
      """SELECT o_orderkey,
        |  least(greatest(o_totalprice, 50000), 250000) AS capped,
        |  CASE WHEN o_orderstatus = 'F' THEN -1.0 ELSE o_totalprice END AS masked
        |FROM orders""".stripMargin,
    "q102_qcut" ->
      """WITH qs AS (
        |  SELECT round(quantile_cont(l_extendedprice, 0.25), 2) AS q1,
        |         round(quantile_cont(l_extendedprice, 0.50), 2) AS q2,
        |         round(quantile_cont(l_extendedprice, 0.75), 2) AS q3
        |  FROM lineitem)
        |SELECT CASE WHEN l_extendedprice <= q1 THEN 0
        |            WHEN l_extendedprice <= q2 THEN 1
        |            WHEN l_extendedprice <= q3 THEN 2
        |            ELSE 3 END AS bin, count(*) AS n
        |FROM lineitem, qs GROUP BY 1""".stripMargin,
    // DuckDB replica of Dedup.jaccardNearDupPairs: exact-dup collapse to
    // representatives, rep-level bigram inverted index with (lang, band ±1)
    // blocking, then member-pair expansion (strings here; Spark hashes
    // grams to longs, which leaves the intersection cardinality unchanged)
    "q103_jaccard_neardups" ->
      """WITH grp AS (
        |  SELECT lang, text, min(doc_id) AS rep FROM documents GROUP BY 1, 2),
        |d AS (
        |  SELECT rep, lang, CAST(floor(length(text) / 16) AS BIGINT) AS bk,
        |    list_distinct(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS toks
        |  FROM (SELECT rep, lang, text,
        |          list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> x <> '') AS t
        |        FROM grp)),
        |g AS (SELECT rep, lang, bk, unnest(toks) AS gram FROM d),
        |rp AS (
        |  SELECT ra, rb, cnt / (sa + sb - cnt) AS jac FROM (
        |    SELECT a.rep AS ra, b.rep AS rb, count(*)::DOUBLE AS cnt
        |    FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram
        |      AND a.rep < b.rep AND abs(a.bk - b.bk) <= 1
        |    GROUP BY 1, 2)
        |  JOIN (SELECT rep, len(toks) AS sa FROM d) xa ON xa.rep = ra
        |  JOIN (SELECT rep, len(toks) AS sb FROM d) xb ON xb.rep = rb
        |  WHERE cnt / (sa + sb - cnt) >= 0.5),
        |mem AS (SELECT d2.doc_id, grp.rep FROM documents d2
        |        JOIN grp ON d2.lang = grp.lang AND d2.text = grp.text),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jac
        |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
        |         greatest(ma.doc_id, mb.doc_id) AS id_b, jac
        |  FROM rp JOIN mem ma ON ma.rep = rp.ra JOIN mem mb ON mb.rep = rp.rb)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM pairs""".stripMargin,
    // DuckDB replica of Similarity.ivfTopK: same centroid set, same
    // index-ordered double cosine, same nProbe=2 / k=3 / tie-breaks
    "q104_ann_ivf" ->
      """WITH corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, v AS ce FROM corp WHERE vec_id < 8),
        |ranked AS (
        |  SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crk
        |  FROM (SELECT c.vec_id, ct.cent_id,
        |          list_inner_product(c.v, ct.ce) /
        |            (sqrt(list_inner_product(c.v, c.v)) *
        |             sqrt(list_inner_product(ct.ce, ct.ce))) AS csim
        |        FROM corp c, cents ct)),
        |cells AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crk = 1),
        |probes AS (SELECT vec_id AS query_id, cent_id AS cell FROM ranked
        |           WHERE crk <= 2 AND vec_id BETWEEN 100 AND 104),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_inner_product(q.v, n.v) /
        |      (sqrt(list_inner_product(q.v, q.v)) *
        |       sqrt(list_inner_product(n.v, n.v))) AS sim
        |  FROM probes p
        |  JOIN cells a USING (cell)
        |  JOIN corp q ON q.vec_id = p.query_id
        |  JOIN corp n ON n.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, round(sim, 4) AS sim, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT query_id, neighbor_id, sim, row_number() OVER (
        |        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |      FROM scored)
        |WHERE rk <= 3""".stripMargin,
    "q105_rolling_median" ->
      """SELECT event_id, round(quantile_cont(value, 0.5) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS roll_med
        |FROM events""".stripMargin,
    "q106_product" ->
      """SELECT a.r_name AS name_a, b.r_name AS name_b
        |FROM region a, region b""".stripMargin,
    "q107_eval_query" ->
      """SELECT o_orderkey, floor(o_totalprice / 10 + 0.5) / 100 AS price_k
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 200000""".stripMargin,
    "q108_rolling_corr" ->
      """SELECT event_id, round(corr(value, epoch(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW), 4) + 0.0 AS roll_corr
        |FROM events""".stripMargin,
    "q109_rowwise_udf" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS disc_price
        |FROM lineitem""".stripMargin,
    "q110_chisquare" ->
      """WITH c AS (
        |  SELECT o_orderpriority, count(*)::DOUBLE AS obs FROM orders GROUP BY 1),
        |t AS (SELECT sum(obs) AS tot, count(*)::DOUBLE AS k FROM c)
        |SELECT round(sum(pow(obs - tot/k, 2) / (tot/k)), 4) AS chi2 FROM c, t""".stripMargin,
    "q111_resample_holistic" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ts,
        |  count(DISTINCT user_id) AS n_users,
        |  round(quantile_cont(value, 0.5), 4) AS med_value
        |FROM events GROUP BY 1""".stripMargin,
    // pandas-POSITIONAL time-range window, not the SQL RANGE frame: the
    // window of row i (ordered by ts, event_id) is the rows AT OR BEFORE
    // position i with o >= o_i - 600 — a RANGE frame would additionally
    // include LATER peers sharing the exact timestamp, which diverges on
    // replicated ties.  o is nondecreasing in rn order, so the window is
    // the rn-interval (mrn(o < o_i-600), rn_i] and one prefix-sum
    // difference computes it exactly in integer cents.
    "q112_rolling_range_global" ->
      """WITH e AS (SELECT event_id, epoch(ts) AS o,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events),
        |c AS (SELECT event_id, o, rn,
        |    CAST(sum(cents) OVER (ORDER BY rn) AS BIGINT) AS cum FROM e),
        |lk AS (SELECT o, max(rn) AS mrn FROM e GROUP BY o)
        |SELECT a.event_id, a.cum - coalesce(p.cum, 0) AS range_sum
        |FROM c a
        |ASOF LEFT JOIN lk ON lk.o < a.o - 600
        |LEFT JOIN c p ON p.rn = lk.mrn""".stripMargin,
    "q113_rolling_skew" ->
      """SELECT event_id, round(skewness(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 4) + 0.0 AS roll_skew
        |FROM events""".stripMargin,
    // q103's pair SQL + recursive min-propagation transitive closure
    "q120_dedup_clusters" ->
      """WITH RECURSIVE grp AS (
        |  SELECT lang, text, min(doc_id) AS rep FROM documents GROUP BY 1, 2),
        |d AS (
        |  SELECT rep, lang, CAST(floor(length(text) / 16) AS BIGINT) AS bk,
        |    list_distinct(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS toks
        |  FROM (SELECT rep, lang, text,
        |          list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> x <> '') AS t
        |        FROM grp)),
        |g AS (SELECT rep, lang, bk, unnest(toks) AS gram FROM d),
        |rp AS (
        |  SELECT ra, rb FROM (
        |    SELECT a.rep AS ra, b.rep AS rb, count(*)::DOUBLE AS cnt
        |    FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram
        |      AND a.rep < b.rep AND abs(a.bk - b.bk) <= 1
        |    GROUP BY 1, 2)
        |  JOIN (SELECT rep, len(toks) AS sa FROM d) xa ON xa.rep = ra
        |  JOIN (SELECT rep, len(toks) AS sb FROM d) xb ON xb.rep = rb
        |  WHERE cnt / (sa + sb - cnt) >= 0.5),
        |mem AS (SELECT d2.doc_id, grp.rep FROM documents d2
        |        JOIN grp ON d2.lang = grp.lang AND d2.text = grp.text),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |  UNION
        |  SELECT least(ma.doc_id, mb.doc_id), greatest(ma.doc_id, mb.doc_id)
        |  FROM rp JOIN mem ma ON ma.rep = rp.ra JOIN mem mb ON mb.rep = rp.rb),
        |e AS (SELECT id_a AS u, id_b AS v FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |r AS (
        |  SELECT u AS node, u AS reach FROM e
        |  UNION
        |  SELECT e.u, r.reach FROM e JOIN r ON e.v = r.node),
        |comp AS (SELECT node, min(reach) AS component FROM r GROUP BY node)
        |SELECT dd.doc_id, coalesce(c.component, dd.doc_id) AS component,
        |  (coalesce(c.component, dd.doc_id) = dd.doc_id) AS keep
        |FROM documents dd LEFT JOIN comp c ON c.node = dd.doc_id""".stripMargin,
    "q121_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf,
        |    tf * (ln((nd + 1.0) / (df + 1.0)) + 1.0) AS tfidf
        |  FROM tf JOIN idf USING (term), n)
        |SELECT doc_id, term, tf, round(tfidf, 6) AS tfidf,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |      FROM scored)
        |WHERE rk <= 3""".stripMargin,
    "q122_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS INTEGER)
        |    AS n_urls,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '[0-9][0-9][0-9][0-9][0-9]+')) AS INTEGER) AS n_numbers,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '[0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g'),
        |    '[ \t]+', ' ', 'g') AS scrubbed
        |FROM documents""".stripMargin,
    "q123_ufuncs" ->
      """CREATE OR REPLACE TEMP MACRO r6(x) AS floor(x * 1e6 + 0.5) / 1e6;
        |SELECT l_orderkey, l_linenumber,
        |  r6(sin(l_quantity)) AS sin_a,
        |  r6(atan2(l_quantity, l_discount + 1.0)) AS atan2_ab,
        |  r6(ln(1 + l_extendedprice)) AS log1p_c,
        |  r6(exp(l_discount) - 1) AS expm1_b,
        |  r6(log2(l_extendedprice)) AS log2_c,
        |  r6(cbrt(l_extendedprice)) AS cbrt_c,
        |  r6(radians(l_quantity)) AS rad_a,
        |  r6(degrees(l_discount)) AS deg_b,
        |  r6(sqrt(l_quantity * l_quantity + (l_discount * 10) * (l_discount * 10))) AS hyp,
        |  r6(greatest(l_quantity / 10.0, l_discount) +
        |     ln(1 + exp(-abs(l_quantity / 10.0 - l_discount)))) AS lae,
        |  sign(l_tax - 0.04)::DOUBLE AS sgn,
        |  r6(CASE WHEN l_tax - 0.04 < 0 THEN -abs(l_quantity)
        |          ELSE abs(l_quantity) END) AS csign,
        |  r6(fmod(floor(l_extendedprice * 100 + 0.5), 7.0)) AS fm,
        |  r6(fmod(fmod((l_tax - 0.04) * 100.0, 7.0) + 7.0, 7.0)) AS pm,
        |  trunc((l_tax - 0.04) * 10.0) + 0.0 AS tr,
        |  r6(l_discount * l_discount) AS sq,
        |  r6(1.0 / (l_discount + 1.0)) AS recip,
        |  r6(CASE WHEN l_discount = 0 THEN 1.0
        |          ELSE sin(3.141592653589793 * l_discount) /
        |               (3.141592653589793 * l_discount) END) AS sinc_b,
        |  CASE WHEN l_tax - 0.04 < 0 THEN 0.0
        |       WHEN l_tax - 0.04 > 0 THEN 1.0 ELSE 0.5 END AS hv
        |FROM lineitem""".stripMargin,
    // full distribution-suite replica over the same splitmix64 uniforms;
    // poisson via the same left-to-right pmf recurrence (recursive CTE)
    "q124_random" -> (duckHashMacros +
      """CREATE OR REPLACE TEMP MACRO unif(rid, sd) AS
        |  (mix64(xor(CAST(rid AS HUGEINT), mix64(CAST(sd AS HUGEINT)))) // 2048)::DOUBLE
        |    / 9007199254740992;
        |WITH RECURSIVE ids AS (SELECT unnest(range(0, 2000)) AS rid),
        |pk(k, p, cdf) AS (
        |  SELECT 0, exp(-4.0), exp(-4.0)
        |  UNION ALL
        |  SELECT k + 1, p * (4.0 / (k + 1)), cdf + p * (4.0 / (k + 1))
        |  FROM pk WHERE k < 60)
        |SELECT rid, unif(rid, 7) AS u,
        |  round(sqrt(-2.0 * ln(unif(rid, 8) + 1e-300)) *
        |        cos(6.283185307179586 * unif(rid, 1000008)), 4) AS gauss,
        |  round(-ln(unif(rid, 9) + 1e-300) / 2.0, 4) AS expo,
        |  round(exp(sqrt(-2.0 * ln(unif(rid, 10) + 1e-300)) *
        |        cos(6.283185307179586 * unif(rid, 1000010)) * 0.5), 4) AS logn,
        |  CAST(floor(unif(rid, 11) * 90) + 10 AS BIGINT) AS ri,
        |  ['red','green','blue'][CAST(floor(unif(rid, 12) * 3) + 1 AS INTEGER)] AS pick,
        |  CAST(unif(rid, 13) < 0.25 AS INTEGER) AS bern,
        |  CAST((SELECT count(*) FROM pk WHERE cdf <= unif(ids.rid, 14)) AS INTEGER) AS pois
        |FROM ids""".stripMargin),
    "q125_concat_interleaved" ->
      """SELECT event_id, CAST(sum(cents) OVER (
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
        |FROM (SELECT event_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events)""".stripMargin,
    // full Lloyd replica: same init (k lowest ids), same index-ordered
    // squared-L2 accumulation, same 1e-6 half-up centroid rounding —
    // 2 iterations unrolled
    "q126_kmeans" ->
      """CREATE OR REPLACE TEMP MACRO r6m(x) AS floor(x * 1e6 + 0.5) / 1e6;
        |WITH corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
        |         v AS cv
        |       FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 4)),
        |a1 AS (SELECT vec_id, v, cell FROM (
        |        SELECT vec_id, v, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY d, cell) AS rk
        |        FROM (SELECT corp.vec_id, corp.v, c0.cell,
        |          list_sum(list_transform(range(1, len(corp.v) + 1),
        |            i -> (corp.v[i] - c0.cv[i]) * (corp.v[i] - c0.cv[i]))) AS d
        |          FROM corp, c0)) WHERE rk = 1),
        |u1 AS (SELECT cell, list(m ORDER BY dim) AS uv FROM (
        |        SELECT cell, dim, r6m(avg(x)) AS m FROM (
        |          SELECT cell, unnest(range(1, len(v) + 1)) AS dim,
        |                 unnest(v) AS x FROM a1)
        |        GROUP BY cell, dim) GROUP BY cell),
        |c1 AS (SELECT c0.cell, coalesce(u1.uv, c0.cv) AS cv
        |       FROM c0 LEFT JOIN u1 USING (cell)),
        |a2 AS (SELECT vec_id, v, cell FROM (
        |        SELECT vec_id, v, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY d, cell) AS rk
        |        FROM (SELECT corp.vec_id, corp.v, c1.cell,
        |          list_sum(list_transform(range(1, len(corp.v) + 1),
        |            i -> (corp.v[i] - c1.cv[i]) * (corp.v[i] - c1.cv[i]))) AS d
        |          FROM corp, c1)) WHERE rk = 1),
        |u2 AS (SELECT cell, list(m ORDER BY dim) AS uv FROM (
        |        SELECT cell, dim, r6m(avg(x)) AS m FROM (
        |          SELECT cell, unnest(range(1, len(v) + 1)) AS dim,
        |                 unnest(v) AS x FROM a2)
        |        GROUP BY cell, dim) GROUP BY cell),
        |c2 AS (SELECT c1.cell, coalesce(u2.uv, c1.cv) AS cv
        |       FROM c1 LEFT JOIN u2 USING (cell)),
        |af AS (SELECT vec_id, cell FROM (
        |        SELECT vec_id, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY d, cell) AS rk
        |        FROM (SELECT corp.vec_id, c2.cell,
        |          list_sum(list_transform(range(1, len(corp.v) + 1),
        |            i -> (corp.v[i] - c2.cv[i]) * (corp.v[i] - c2.cv[i]))) AS d
        |          FROM corp, c2)) WHERE rk = 1)
        |SELECT c2.cell, coalesce(cnt.n, 0) AS n, cv[1] AS c0, cv[2] AS c1
        |FROM c2 LEFT JOIN (SELECT cell, count(*) AS n FROM af GROUP BY cell) cnt
        |  USING (cell)""".stripMargin,
    "q127_ttest_ind" ->
      """WITH s AS (SELECT
        |  avg(l_quantity) FILTER (l_returnflag = 'A') AS m1,
        |  var_samp(l_quantity) FILTER (l_returnflag = 'A') AS v1,
        |  count(*) FILTER (l_returnflag = 'A')::DOUBLE AS n1,
        |  avg(l_quantity) FILTER (l_returnflag <> 'A') AS m2,
        |  var_samp(l_quantity) FILTER (l_returnflag <> 'A') AS v2,
        |  count(*) FILTER (l_returnflag <> 'A')::DOUBLE AS n2
        |FROM lineitem)
        |SELECT
        |  round((m1 - m2) / sqrt(((n1-1)*v1 + (n2-1)*v2) / (n1+n2-2)
        |    * (1/n1 + 1/n2)), 4) AS t_pooled,
        |  CAST(n1 + n2 - 2 AS BIGINT) AS df_pooled,
        |  round((m1 - m2) / sqrt(v1/n1 + v2/n2), 4) AS t_welch,
        |  round(pow(v1/n1 + v2/n2, 2) /
        |    (pow(v1/n1, 2)/(n1-1) + pow(v2/n2, 2)/(n2-1)), 4) AS df_welch
        |FROM s""".stripMargin,
    "q128_ttest_rel" ->
      """WITH d AS (SELECT l_extendedprice * (1 - l_discount)
        |                - l_extendedprice * (1 - l_tax) AS d FROM lineitem)
        |SELECT round(avg(d) / sqrt(var_samp(d) / count(*)), 4) AS t_stat,
        |       CAST(count(*) - 1 AS BIGINT) AS df
        |FROM d""".stripMargin,
    "q129_f_oneway" ->
      """WITH o AS (SELECT avg(l_quantity) AS off FROM lineitem),
        |g AS (SELECT l_returnflag, sum(l_quantity - off) AS s,
        |        sum(pow(l_quantity - off, 2)) AS ss, count(*)::DOUBLE AS n
        |      FROM lineitem, o GROUP BY 1),
        |f AS (SELECT sum(n) AS bign, count(*)::DOUBLE AS k, sum(ss) AS sumss,
        |        sum(s) AS sums, sum(s * s / n) AS ssg FROM g)
        |SELECT round(((ssg - sums*sums/bign) / (k - 1)) /
        |         ((sumss - ssg) / (bign - k)), 4) AS f_stat,
        |       CAST(k - 1 AS BIGINT) AS df_between,
        |       CAST(bign - k AS BIGINT) AS df_within
        |FROM f""".stripMargin,
    "q130_power_divergence" ->
      """WITH c AS (SELECT o_orderpriority, count(*)::DOUBLE AS obs
        |           FROM orders GROUP BY 1),
        |e AS (SELECT avg(obs) AS e FROM c)
        |SELECT round(2 * sum(obs * ln(obs / e)), 4) AS g_test,
        |  round(sum(obs * (pow(obs / e, -0.5) - 1)) / (0.5 * (-0.5) * 0.5), 4)
        |    AS freeman_tukey,
        |  round(sum(obs * (pow(obs / e, 2.0/3.0) - 1))
        |    / (0.5 * (2.0/3.0) * (2.0/3.0 + 1)), 4) AS cressie_read
        |FROM c, e""".stripMargin,
    "q131_normaltest" ->
      """WITH s AS (SELECT count(l_quantity)::DOUBLE AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s2,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s4
        |  FROM lineitem),
        |mm AS (SELECT n, s1 / n AS mean, s2, s3, s4 FROM s),
        |mom AS (SELECT n,
        |    s2 / n - mean * mean AS m2,
        |    s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean AS m3,
        |    s4 / n - 4.0 * mean * (s3 / n) + 6.0 * mean * mean * (s2 / n)
        |      - 3.0 * mean * mean * mean * mean AS m4
        |  FROM mm),
        |b AS (SELECT n, m3 / pow(m2, 1.5) AS b1, m4 / pow(m2, 2) AS b2 FROM mom),
        |s1 AS (SELECT n, b2,
        |  b1 * sqrt((n+1)*(n+3) / (6*(n-2))) AS y0,
        |  3.0*(n*n + 27*n - 70)*(n+1)*(n+3)
        |    / ((n-2)*(n+5)*(n+7)*(n+9)) AS beta2 FROM b),
        |s2 AS (SELECT n, b2, CASE WHEN y0 = 0 THEN 1 ELSE y0 END AS y,
        |  sqrt(2*(beta2-1)) - 1 AS w2 FROM s1),
        |s3 AS (SELECT n, b2,
        |  (1/sqrt(0.5*ln(w2))) * ln(y/sqrt(2/(w2-1))
        |    + sqrt(pow(y/sqrt(2/(w2-1)), 2) + 1)) AS z_skew FROM s2),
        |k1 AS (SELECT n, b2, z_skew,
        |  3.0*(n-1)/(n+1) AS eb2,
        |  24.0*n*(n-2)*(n-3)/((n+1)*(n+1)*(n+3)*(n+5)) AS varb2,
        |  6.0*(n*n - 5*n + 2)/((n+7)*(n+9))
        |    * sqrt(6.0*(n+3)*(n+5)/(n*(n-2)*(n-3))) AS sqrtbeta1 FROM s3),
        |k2s AS (SELECT z_skew, (b2 - eb2)/sqrt(varb2) AS x,
        |  6.0 + 8.0/sqrtbeta1 * (2.0/sqrtbeta1
        |    + sqrt(1 + 4.0/pow(sqrtbeta1, 2))) AS a FROM k1),
        |k3 AS (SELECT z_skew,
        |  CASE WHEN 1 + x*sqrt(2/(a-4)) < 0 THEN 0
        |       ELSE ((1 - 2/(9*a)) - pow((1 - 2/a)/(1 + x*sqrt(2/(a-4))),
        |         1.0/3.0)) / sqrt(2/(9*a)) END AS z_kurt FROM k2s)
        |SELECT round(z_skew, 4) AS z_skew, round(z_kurt, 4) AS z_kurt,
        |       round(z_skew*z_skew + z_kurt*z_kurt, 4) AS k2
        |FROM k3""".stripMargin,
    "q132_heavyhitters" ->
      """WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
        |    AS token FROM documents)
        |SELECT token, count(*) AS cnt FROM toks
        |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 15""".stripMargin,
    // seeded PQ (numSub=4, sub=16, k=4): codebook = subslices of the 4
    // lowest-id vectors; encode = argmin over per-subspace squared L2
    // (dim-ordered fold); ADC score = per-(query,m,code) LUT distances
    // summed in m order (list(... ORDER BY m) keeps the fold order
    // identical to Spark's zip_with/aggregate, so scores are bit-equal)
    "q133_pq_topk" ->
      """WITH corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS code, v
        |         FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 4)),
        |ms AS (SELECT unnest(range(0, 4)) AS m),
        |cb AS (SELECT ms.m, init.code,
        |         list_transform(range(1, 17), i -> init.v[ms.m*16 + i]) AS cent
        |       FROM ms, init),
        |dists AS (SELECT corp.vec_id, cb.m, cb.code,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (corp.v[cb.m*16 + i] - cb.cent[i])
        |         * (corp.v[cb.m*16 + i] - cb.cent[i]))) AS d
        |  FROM corp, cb),
        |enc AS (SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d, code) AS rk FROM dists)
        |  WHERE rk = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 3),
        |lutd AS (SELECT q.query_id, cb.m, cb.code,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (q.qv[cb.m*16 + i] - cb.cent[i])
        |         * (q.qv[cb.m*16 + i] - cb.cent[i]))) AS d
        |  FROM q, cb),
        |scored AS (SELECT l.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list(l.d ORDER BY l.m)) AS score
        |  FROM enc e JOIN lutd l ON l.m = e.m AND l.code = e.code
        |  WHERE e.vec_id <> l.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, round(score, 4) AS score, rk FROM (
        |  SELECT query_id, neighbor_id, score, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score, neighbor_id) AS INT) AS rk
        |  FROM scored) WHERE rk <= 5""".stripMargin,
    "q134_repetition" ->
      """WITH base AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
        |  FROM base),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |wstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total, max(c) AS top,
        |    count(*) AS dist FROM wc GROUP BY 1),
        |bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS btotal,
        |    count(*) AS bdist FROM bc GROUP BY 1)
        |SELECT wstat.doc_id, total AS n_words,
        |  floor(CAST(top AS DOUBLE) / greatest(total, 1) * 1e6 + 0.5) / 1e6
        |    AS top_word_frac,
        |  floor((1.0 - CAST(dist AS DOUBLE) / greatest(total, 1)) * 1e6 + 0.5)
        |    / 1e6 AS dup_word_frac,
        |  floor(coalesce(1.0 - CAST(bdist AS DOUBLE) / greatest(btotal, 1), 0.0)
        |    * 1e6 + 0.5) / 1e6 AS dup_bigram_frac
        |FROM wstat LEFT JOIN bstat USING (doc_id)""".stripMargin,
    "q135_decontaminate" ->
      """WITH base AS (SELECT doc_id, source, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, source, unnest(ws) AS w,
        |    generate_subscripts(ws, 1) AS i FROM base),
        |g AS (SELECT doc_id, source,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
        |      || ' ' || lead(w, 3) OVER win AS gram
        |  FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY i)
        |  QUALIFY lead(w, 3) OVER win IS NOT NULL),
        |tg AS (SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0'),
        |bg AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM tg JOIN bg USING (gram) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_overlap, 0) AS n_overlap,
        |  coalesce(n_overlap, 0) >= 1 AS contaminated
        |FROM (SELECT DISTINCT doc_id FROM documents WHERE source <> 'src0') d
        |LEFT JOIN hits USING (doc_id)""".stripMargin,
    "q136_nan_reductions" ->
      """WITH v AS (SELECT l_returnflag,
        |    CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS v,
        |    CASE WHEN l_orderkey % 7 = 0 THEN 1 ELSE 0 END AS is_nan
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round(coalesce(sum(v), 0.0), 4) AS nsum,
        |  round(avg(v), 4) AS nmean,
        |  min(v) AS nmin, max(v) AS nmax,
        |  round(stddev_samp(v), 4) AS nstd,
        |  CAST(sum(is_nan) AS BIGINT) AS n_nan
        |FROM v GROUP BY 1""".stripMargin,
    "q137_lstsq" ->
      """WITH r AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round(l_discount * 100) AS BIGINT) AS d,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yv
        |  FROM lineitem),
        |t AS (SELECT count(*)::DOUBLE AS n,
        |    CAST(sum(q) AS BIGINT) AS t1, CAST(sum(d) AS BIGINT) AS t2,
        |    CAST(sum(q*q) AS BIGINT) AS t11, CAST(sum(q*d) AS BIGINT) AS t12,
        |    CAST(sum(d*d) AS BIGINT) AS t22,
        |    CAST(sum(yv) AS BIGINT) AS ty, CAST(sum(q*yv) AS BIGINT) AS g1,
        |    CAST(sum(d*yv) AS BIGINT) AS g2
        |  FROM r),
        |s AS (SELECT n, t1, t2, ty,
        |    t11 - t1::DOUBLE * t1 / n AS s11,
        |    t12 - t1::DOUBLE * t2 / n AS s12,
        |    t22 - t2::DOUBLE * t2 / n AS s22,
        |    g1 - t1::DOUBLE * ty / n AS c1,
        |    g2 - t2::DOUBLE * ty / n AS c2
        |  FROM t),
        |b AS (SELECT n, t1, t2, ty,
        |    (s22*c1 - s12*c2) / (s11*s22 - s12*s12) AS b1,
        |    (s11*c2 - s12*c1) / (s11*s22 - s12*s12) AS b2 FROM s)
        |SELECT floor((ty/n - b1*(t1/n) - b2*(t2/n)) * 1e4 + 0.5) / 1e4 AS b0,
        |  floor(b1 * 1e4 + 0.5) / 1e4 AS b1,
        |  floor(b2 * 1e4 + 0.5) / 1e4 AS b2 FROM b""".stripMargin,
    "q138_histogramdd" ->
      """SELECT
        |  CAST(least(floor((l_quantity - 0.0) / ((50.0 - 0.0) / 5)), 4) AS INT)
        |    AS bin_l_quantity,
        |  CAST(least(floor((l_discount - 0.0) / ((0.1 - 0.0) / 5)), 4) AS INT)
        |    AS bin_l_discount,
        |  CAST(least(floor((l_tax - 0.0) / ((0.08 - 0.0) / 4)), 3) AS INT)
        |    AS bin_l_tax,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_quantity BETWEEN 0 AND 50 AND l_discount BETWEEN 0 AND 0.1
        |  AND l_tax BETWEEN 0 AND 0.08
        |GROUP BY 1, 2, 3""".stripMargin,
    "q139_expanding_global" ->
      """WITH e AS (SELECT event_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT event_id,
        |    CAST(sum(cents) OVER w AS BIGINT) AS s1,
        |    CAST(sum(cents * cents) OVER w AS BIGINT) AS s2,
        |    count(cents) OVER w AS n,
        |    CAST(min(cents) OVER w AS BIGINT) AS exp_min
        |  FROM e
        |  WINDOW w AS (ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id,
        |  floor((s1::DOUBLE / n) * 1e6 + 0.5) / 1e6 AS exp_mean,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    floor(((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) / (n - 1))
        |          * 1e6 + 0.5) / 1e6 END AS exp_var,
        |  exp_min, n AS exp_cnt
        |FROM s""".stripMargin,
    "q140_rolling_corr_global" ->
      """WITH e AS (SELECT event_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |l AS (SELECT event_id, ts, x,
        |    lag(x) OVER (ORDER BY ts, event_id) AS y FROM e),
        |s AS (SELECT event_id,
        |    count(CASE WHEN y IS NOT NULL THEN 1 END) OVER w AS n,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN x END) OVER w AS BIGINT) AS sx,
        |    CAST(sum(y) OVER w AS BIGINT) AS sy,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN x * x END) OVER w AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER w AS BIGINT) AS syy,
        |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy
        |  FROM l
        |  WINDOW w AS (ORDER BY ts, event_id
        |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT event_id,
        |  CASE WHEN n < 2 THEN NULL
        |    WHEN n * sxx = sx * sx OR n * syy = sy * sy THEN 'NaN'::DOUBLE
        |    ELSE round(least(greatest(
        |      (sxy::DOUBLE - sx::DOUBLE * sy / n) /
        |        sqrt((sxx::DOUBLE - sx::DOUBLE * sx / n)
        |           * (syy::DOUBLE - sy::DOUBLE * sy / n)), -1.0), 1.0), 4) + 0.0
        |  END AS roll_corr
        |FROM s""".stripMargin,
    "q141_multimodal_decode" ->
      """WITH pk AS (SELECT unnest(range(360)) AS k),
        |sk AS (SELECT unnest(range(200)) AS k),
        |img AS (SELECT doc_id AS media_id,
        |    CAST(sum(CASE WHEN k % 3 = 0 THEN (doc_id*7 + k*13) % 256 END)
        |      AS BIGINT) AS sr,
        |    CAST(sum(CASE WHEN k % 3 = 1 THEN (doc_id*7 + k*13) % 256 END)
        |      AS BIGINT) AS sg,
        |    CAST(sum(CASE WHEN k % 3 = 2 THEN (doc_id*7 + k*13) % 256 END)
        |      AS BIGINT) AS sb,
        |    CAST(sum(k * ((doc_id*7 + k*13) % 256)) AS BIGINT) AS wsum
        |  FROM documents, pk GROUP BY 1),
        |aud AS (SELECT doc_id AS media_id,
        |    CAST(sum((doc_id*31 + k*17) % 65536 - 32768) AS BIGINT) AS sm,
        |    CAST(sum(((doc_id*31 + k*17) % 65536 - 32768)
        |           * ((doc_id*31 + k*17) % 65536 - 32768)) AS BIGINT) AS ssq
        |  FROM documents, sk GROUP BY 1)
        |SELECT img.media_id, CAST(15 AS INT) AS w, CAST(8 AS INT) AS h,
        |  sr / 120.0 AS mean_r, sg / 120.0 AS mean_g, sb / 120.0 AS mean_b,
        |  wsum, CAST(200 AS BIGINT) AS n_samp, sm / 200.0 AS mean_s, ssq
        |FROM img JOIN aud ON img.media_id = aud.media_id""".stripMargin,
    "q142_sessionize_replay" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |l AS (SELECT user_id, ts, event_id, t, cents,
        |    lag(t) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt
        |  FROM e),
        |g AS (SELECT user_id, cents,
        |    sum(CASE WHEN pt IS NULL OR t - pt > 43200 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM l),
        |ses AS (SELECT user_id, grp, count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM g GROUP BY 1, 2),
        |sel AS (SELECT user_id, n_events, total_cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY grp DESC) AS rk
        |  FROM ses)
        |SELECT user_id, n_events, total_cents FROM sel WHERE rk = 1""".stripMargin,
    "q143_dedup_spans" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, s,
        |    array_to_string(toks[s:s+7], ' ') AS gram
        |  FROM t, unnest(range(1, greatest(len(toks) - 6, 1))) AS u(s)),
        |d AS (SELECT gram FROM g GROUP BY gram
        |      HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT g.doc_id, g.s FROM g JOIN d USING (gram)),
        |cp AS (SELECT DISTINCT f.doc_id, f.s + x AS p
        |       FROM f, unnest(range(8)) AS ux(x)),
        |tok AS (SELECT doc_id, CAST(up.p AS BIGINT) AS p, toks[CAST(up.p AS INT)] AS tk
        |        FROM t, unnest(range(1, len(toks) + 1)) AS up(p))
        |SELECT t.doc_id,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(count(cp.p) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN cp.p IS NULL THEN tok.tk END, ' '
        |                      ORDER BY tok.p), '') AS clean_text
        |FROM t
        |LEFT JOIN tok ON tok.doc_id = t.doc_id
        |LEFT JOIN cp ON cp.doc_id = tok.doc_id AND cp.p = tok.p
        |GROUP BY t.doc_id, len(t.toks)""".stripMargin,
    // literal replay of the engine's late rule: during the late batch
    // the watermark is max(ts, ms floor) - 2h; a late row survives iff
    // its 1h window's END is still past that watermark.  The kept set
    // also mirrors the harness's advancer row (cents 0 at max ts).
    "q144_windowed_agg_late" ->
      """WITH e AS (SELECT event_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |mx AS (SELECT max(ts) AS mts FROM e),
        |kept AS (
        |  SELECT ts, cents FROM e, mx
        |  WHERE event_id % 4 != 0 OR ts = mts
        |  UNION ALL
        |  SELECT mts AS ts, CAST(0 AS BIGINT) AS cents FROM mx
        |  UNION ALL
        |  SELECT e.ts, e.cents FROM e, mx
        |  WHERE event_id % 4 = 0 AND e.ts < mts
        |    AND epoch_ms(time_bucket(INTERVAL '1 hour', e.ts)
        |                 + INTERVAL '1 hour') > epoch_ms(mts) - 7200000)
        |SELECT time_bucket(INTERVAL '1 hour', ts) AS ts,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_value
        |FROM kept GROUP BY 1""".stripMargin,
    "q145_dedup_replay" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q146_enrich_replay" ->
      """WITH d AS (SELECT c_custkey AS user_id, c_mktsegment
        |           FROM customer WHERE c_custkey % 3 != 0),
        |e AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events)
        |SELECT d.c_mktsegment, count(*) AS n,
        |  CAST(sum(e.cents) AS BIGINT) AS sum_cents
        |FROM e LEFT JOIN d USING (user_id)
        |GROUP BY 1""".stripMargin,
    "q147_lu_det" ->
      """WITH g AS (SELECT CAST(l_orderkey % 4 AS INT) AS i,
        |    CAST(l_suppkey % 4 AS INT) AS j,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) % 97 AS BIGINT) AS s
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT
        |  coalesce(max(CASE WHEN i=0 AND j=0 THEN s END), 0) + 100 AS a00,
        |  coalesce(max(CASE WHEN i=0 AND j=1 THEN s END), 0) AS a01,
        |  coalesce(max(CASE WHEN i=0 AND j=2 THEN s END), 0) AS a02,
        |  coalesce(max(CASE WHEN i=0 AND j=3 THEN s END), 0) AS a03,
        |  coalesce(max(CASE WHEN i=1 AND j=0 THEN s END), 0) AS a10,
        |  coalesce(max(CASE WHEN i=1 AND j=1 THEN s END), 0) + 100 AS a11,
        |  coalesce(max(CASE WHEN i=1 AND j=2 THEN s END), 0) AS a12,
        |  coalesce(max(CASE WHEN i=1 AND j=3 THEN s END), 0) AS a13,
        |  coalesce(max(CASE WHEN i=2 AND j=0 THEN s END), 0) AS a20,
        |  coalesce(max(CASE WHEN i=2 AND j=1 THEN s END), 0) AS a21,
        |  coalesce(max(CASE WHEN i=2 AND j=2 THEN s END), 0) + 100 AS a22,
        |  coalesce(max(CASE WHEN i=2 AND j=3 THEN s END), 0) AS a23,
        |  coalesce(max(CASE WHEN i=3 AND j=0 THEN s END), 0) AS a30,
        |  coalesce(max(CASE WHEN i=3 AND j=1 THEN s END), 0) AS a31,
        |  coalesce(max(CASE WHEN i=3 AND j=2 THEN s END), 0) AS a32,
        |  coalesce(max(CASE WHEN i=3 AND j=3 THEN s END), 0) + 100 AS a33
        |  FROM g)
        |SELECT CAST(
        |    a00*(a11*(a22*a33-a23*a32) - a12*(a21*a33-a23*a31) + a13*(a21*a32-a22*a31))
        |  - a01*(a10*(a22*a33-a23*a32) - a12*(a20*a33-a23*a30) + a13*(a20*a32-a22*a30))
        |  + a02*(a10*(a21*a33-a23*a31) - a11*(a20*a33-a23*a30) + a13*(a20*a31-a21*a30))
        |  - a03*(a10*(a21*a32-a22*a31) - a11*(a20*a32-a22*a30) + a12*(a20*a31-a21*a30))
        |  AS BIGINT) AS det4
        |FROM m""".stripMargin,
    // portableBucket replica (q67's machinery), seed 2, per-lang CASE
    // threshold; zh unlisted -> threshold 0 -> dropped
    "q148_stratified_sample" ->
      """WITH kf AS (
        |  SELECT doc_id, lang, xor(doc_id, doc_id >> 27) AS fk FROM documents),
        |k AS (SELECT doc_id, lang, fk % 100000000 + 15838 AS k0 FROM kf),
        |a1 AS (SELECT doc_id, lang, (k0*2654435761)%4294967296 AS h1 FROM k),
        |a2 AS (SELECT doc_id, lang, xor(h1, h1>>16) AS x1 FROM a1),
        |a3 AS (SELECT doc_id, lang, (x1*1597334677)%4294967296 AS h2 FROM a2),
        |a4 AS (SELECT doc_id, lang, xor(h2, h2>>13) AS x2 FROM a3),
        |b AS (SELECT doc_id, lang, (x2*10000)//4294967296 AS bucket FROM a4)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 8000
        |  WHEN 'es' THEN 5000 WHEN 'fr' THEN 10000 ELSE 0 END""".stripMargin,

    // q149: the flat index rn maps to grid cell (rn//100, rn%100); after
    // transpose + slice(10:59:2) the output row is (rn%100-10)//2 and
    // sumAxis(1) folds all grid rows — an exact BIGINT restatement.
    "q149_block_pipeline" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT) AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |c AS (SELECT (COUNT(*) // 100) * 100 AS m FROM t)
        |SELECT CAST((rn % 100 - 10) // 2 AS BIGINT) AS idx,
        |       CAST(SUM(v) AS BIGINT) AS s
        |FROM t, c
        |WHERE rn < m AND rn % 100 BETWEEN 10 AND 58 AND (rn % 100) % 2 = 0
        |GROUP BY 1""".stripMargin,

    // q150: direct DFT of the same 128-sample signal; power is rounded to
    // integer on both sides (im sign cancels in the square).
    "q150_fft_power" ->
      """WITH sig AS (
        |  SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS n,
        |         CAST(o_orderkey % 97 - 48 AS DOUBLE) AS x
        |  FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 128)),
        |ks AS (SELECT n AS k FROM sig)
        |SELECT CAST(ks.k AS BIGINT) AS k,
        |  CAST(ROUND(POWER(SUM(x * COS(2 * PI() * ks.k * sig.n / 128)), 2)
        |           + POWER(SUM(x * SIN(2 * PI() * ks.k * sig.n / 128)), 2))
        |       AS BIGINT) AS p
        |FROM ks, sig GROUP BY 1""".stripMargin,

    // q151: C[i,j] = sum_l A[i,l]*B[l,j] as a relational join-aggregate
    // over the same row_number cell mapping; flat idx = i*50 + j.
    "q151_block_matmul" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_linenumber AS BIGINT) AS ln,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |a AS (SELECT rn // 40 AS i, rn % 40 AS l, q AS v FROM t WHERE rn < 2400),
        |b AS (SELECT rn // 50 AS l, rn % 50 AS j, ln AS v FROM t WHERE rn < 2000)
        |SELECT CAST(a.i * 50 + b.j AS BIGINT) AS idx,
        |       CAST(SUM(a.v * b.v) AS BIGINT) AS v
        |FROM a JOIN b ON a.l = b.l GROUP BY 1""".stripMargin,

    // q152: argmax with first-occurrence ties = MIN(row) among the rows
    // attaining the column max; concat offsets the min lane by 100.
    "q152_block_argmax" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |c AS (SELECT (COUNT(*) // 100) * 100 AS m FROM t),
        |g AS (SELECT rn // 100 AS r, rn % 100 AS col, v FROM t, c WHERE rn < m),
        |mx AS (SELECT col, MAX(v) AS mv, MIN(v) AS mnv FROM g GROUP BY col),
        |am AS (SELECT g.col, MIN(g.r) AS best
        |       FROM g JOIN mx ON g.col = mx.col AND g.v = mx.mv GROUP BY g.col)
        |SELECT CAST(col AS BIGINT) AS idx, CAST(best AS BIGINT) AS v FROM am
        |UNION ALL
        |SELECT CAST(col + 100 AS BIGINT) AS idx, CAST(mnv AS BIGINT) AS v FROM mx""".stripMargin,

    // q153: stencil = edge-truncated 3-row window sum; cumsum = running
    // window sum; column sampling keeps cols 0,20,...,80 with new flat
    // idx = r*5 + col/20.
    "q153_block_cumsum" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |c AS (SELECT (COUNT(*) // 100) * 100 AS m FROM t),
        |g AS (SELECT rn // 100 AS r, rn % 100 AS col, v FROM t, c WHERE rn < m),
        |w AS (SELECT r, col, SUM(v) OVER (PARTITION BY col ORDER BY r
        |        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS sv FROM g),
        |cs AS (SELECT r, col, SUM(sv) OVER (PARTITION BY col ORDER BY r) AS s FROM w)
        |SELECT CAST(r * 5 + col // 20 AS BIGINT) AS idx, CAST(s AS BIGINT) AS s
        |FROM cs WHERE col % 20 = 0""".stripMargin,

    // q154: cummax prefix -> adjacent diff d(i)=cm(i+1)-cm(i) over
    // i=0..m-1 (m = n-1), roll(+1000), flip, pad(3,2,-1), sample every
    // 997th.  Sampled src k*997 maps to d-index ((m+2-src-1000) mod m)
    // via flip(j)=r(m+2-src) then roll; pads emit -1.  Pure BIGINT.
    "q154_block_scan_roll" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |cm AS (SELECT rn, MAX(v) OVER (ORDER BY rn) AS c FROM t),
        |d AS (SELECT rn AS i, lead(c) OVER (ORDER BY rn) - c AS dv FROM cm),
        |par AS (SELECT COUNT(*) - 1 AS m FROM t),
        |ks AS (SELECT unnest(generate_series(0, CAST((m + 4) // 997 AS BIGINT))) AS k FROM par),
        |sel AS (SELECT k, k * 997 AS src, m,
        |          CASE WHEN k * 997 < 3 OR k * 997 >= m + 3 THEN NULL
        |               ELSE ((m + 2 - k * 997 - 1000) % m + m) % m END AS di
        |        FROM ks, par)
        |SELECT CAST(sel.k AS BIGINT) AS idx,
        |       CAST(COALESCE(d.dv, -1) AS BIGINT) AS v
        |FROM sel LEFT JOIN d ON d.i = sel.di""".stripMargin,

    // q155: NaN -> NULL in SQL; nansum = COALESCE(SUM,0), count = COUNT(v),
    // nanmin = MIN(v); top-3 per column with NaN as -1, values emitted so
    // tie order cannot matter.  Concat offsets: +100 count, +200 min,
    // 300 + rank*100 + col for top-3.
    "q155_block_nan_topk" ->
      """WITH t AS (
        |  SELECT CASE WHEN l_linenumber >= 5 THEN NULL
        |              ELSE CAST(l_quantity AS BIGINT) END AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |c AS (SELECT (COUNT(*) // 100) * 100 AS m FROM t),
        |g AS (SELECT rn // 100 AS r, rn % 100 AS col, v FROM t, c WHERE rn < m),
        |ns AS (SELECT col, COALESCE(SUM(v), 0) AS s, COUNT(v) AS cnt, MIN(v) AS mn
        |       FROM g GROUP BY col),
        |tk AS (SELECT col, COALESCE(v, -1) AS tv,
        |              row_number() OVER (PARTITION BY col ORDER BY COALESCE(v, -1) DESC) AS rk
        |       FROM g QUALIFY rk <= 3)
        |SELECT CAST(col AS BIGINT) AS idx, CAST(s AS BIGINT) AS v FROM ns
        |UNION ALL
        |SELECT CAST(col + 100 AS BIGINT) AS idx, CAST(cnt AS BIGINT) AS v FROM ns
        |UNION ALL
        |SELECT CAST(col + 200 AS BIGINT) AS idx, CAST(mn AS BIGINT) AS v FROM ns
        |UNION ALL
        |SELECT CAST(300 + (rk - 1) * 100 + col AS BIGINT) AS idx,
        |       CAST(tv AS BIGINT) AS v FROM tk""".stripMargin,

    // q156: gradient x2 (edges one-sided x2, interior lead-lag) and
    // v - column-sum, sampled cols 0,20,..,180; first 5 sample lanes are
    // the gradient, next 5 the centered values.
    "q156_block_gradient_broadcast" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |c AS (SELECT (COUNT(*) // 100) * 100 AS m FROM t),
        |g AS (SELECT rn // 100 AS r, rn % 100 AS col, v FROM t, c WHERE rn < m),
        |nrt AS (SELECT m // 100 AS nr FROM c),
        |gr AS (SELECT r, col,
        |         CASE WHEN r = 0 THEN 2 * (lead(v) OVER w - v)
        |              WHEN r = nr - 1 THEN 2 * (v - lag(v) OVER w)
        |              ELSE lead(v) OVER w - lag(v) OVER w END AS gv
        |       FROM g, nrt WINDOW w AS (PARTITION BY col ORDER BY r)),
        |cs AS (SELECT col, SUM(v) AS s FROM g GROUP BY col),
        |ce AS (SELECT g.r, g.col, g.v - cs.s AS cv FROM g JOIN cs USING (col))
        |SELECT CAST(r * 10 + col // 20 AS BIGINT) AS idx, CAST(gv AS BIGINT) AS v
        |FROM gr WHERE col % 20 = 0
        |UNION ALL
        |SELECT CAST(r * 10 + 5 + col // 20 AS BIGINT) AS idx, CAST(cv AS BIGINT) AS v
        |FROM ce WHERE col % 20 = 0""".stripMargin,

    // q157: direct-definition EWM over a 60-term truncated lookback
    // (0.5^60 < 1e-18, far beneath the 1e-4 rounding both sides apply);
    // all decay weights are exact dyadics.  Var uses the pandas
    // bias=False correction W^2/(W^2 - W2), null until two observations.
    "q157_ewm" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |s AS (SELECT rn AS srn FROM t WHERE rn % 997 = 0),
        |j AS (SELECT s.srn,
        |        SUM(t.v * POWER(0.5, s.srn - t.rn)) AS num,
        |        SUM(POWER(0.5, s.srn - t.rn)) AS den,
        |        SUM(t.v * t.v * POWER(0.5, s.srn - t.rn)) AS num2,
        |        SUM(POWER(0.25, s.srn - t.rn)) AS den2
        |      FROM s JOIN t ON t.rn BETWEEN s.srn - 60 AND s.srn
        |      GROUP BY s.srn)
        |SELECT CAST(srn // 997 AS BIGINT) AS idx,
        |  CAST(FLOOR(num / den * 10000 + 0.5) AS BIGINT) AS m,
        |  CASE WHEN den * den - den2 > 0 THEN
        |    CAST(FLOOR(GREATEST(0, (num2 / den - POWER(num / den, 2))
        |      * den * den / (den * den - den2)) * 10000 + 0.5) AS BIGINT)
        |  ELSE NULL END AS vv
        |FROM j""".stripMargin,

    // q159: coarse cell (r,c) sums rows 2r..2r+1 x cols 20c..20c+19 of
    // the row-major grid; sign flips on odd sums; C[r,j] = sum_c
    // w(r,c)*(c+j+1); output idx = (r/97)*3 + j over rows r % 97 = 0.
    "q159_block_coarsen_tensordot" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |pars AS (SELECT (((COUNT(*) // 100) // 2) * 2) AS r2 FROM t),
        |s AS (SELECT (rn // 100) // 2 AS r, (rn % 100) // 20 AS c, SUM(v) AS sv
        |      FROM t, pars WHERE rn < r2 * 100 GROUP BY 1, 2),
        |w AS (SELECT r, c, CASE WHEN sv % 2 = 0 THEN sv ELSE -sv END AS wv FROM s),
        |b AS (SELECT rc.range AS c, rj.range AS j, rc.range + rj.range + 1 AS bv
        |      FROM range(5) rc, range(3) rj),
        |o AS (SELECT w.r, b.j, SUM(w.wv * b.bv) AS ov
        |      FROM w JOIN b USING (c) GROUP BY 1, 2)
        |SELECT CAST((r // 97) * 3 + j AS BIGINT) AS idx, CAST(ov AS BIGINT) AS v
        |FROM o WHERE r % 97 = 0""".stripMargin,

    // q158: per-key truncated-lookback restatement of q157 — grn is the
    // row_number within l_returnflag over the same 5-column total order.
    "q158_ewm_keyed" ->
      """WITH t AS (
        |  SELECT l_returnflag AS k, CAST(l_quantity AS DOUBLE) AS v,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS grn
        |  FROM lineitem),
        |s AS (SELECT k, grn AS sgrn FROM t WHERE grn % 997 = 0),
        |j AS (SELECT s.k, s.sgrn,
        |        SUM(t.v * POWER(0.5, s.sgrn - t.grn)) AS num,
        |        SUM(POWER(0.5, s.sgrn - t.grn)) AS den,
        |        SUM(t.v * t.v * POWER(0.5, s.sgrn - t.grn)) AS num2,
        |        SUM(POWER(0.25, s.sgrn - t.grn)) AS den2
        |      FROM s JOIN t ON t.k = s.k AND t.grn BETWEEN s.sgrn - 60 AND s.sgrn
        |      GROUP BY s.k, s.sgrn)
        |SELECT k, CAST(sgrn // 997 AS BIGINT) AS idx,
        |  CAST(FLOOR(num / den * 10000 + 0.5) AS BIGINT) AS m,
        |  CASE WHEN den * den - den2 > 0 THEN
        |    CAST(FLOOR(GREATEST(0, (num2 / den - POWER(num / den, 2))
        |      * den * den / (den * den - den2)) * 10000 + 0.5) AS BIGINT)
        |  ELSE NULL END AS vv
        |FROM j""".stripMargin,

    // q162: adjust=False ignore_na=True weights in closed form over
    // observation distance: obs j (rank oj among non-nulls) weighs
    // 0.5^(lastoj-oj+1), except the very first observation (oj=0) which
    // weighs 0.5^lastoj; total weight is exactly 1 so sums stay
    // unnormalized.  60-observation truncated lookback (tail < 1e-18).
    "q162_ewm_unadjusted" ->
      """WITH t AS (
        |  SELECT CASE WHEN l_linenumber >= 6 THEN NULL
        |              ELSE CAST(l_quantity AS DOUBLE) END AS v,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |o AS (SELECT v, rn, row_number() OVER (ORDER BY rn) - 1 AS oj
        |      FROM t WHERE v IS NOT NULL),
        |s AS (SELECT rn AS srn FROM t WHERE rn % 997 = 0),
        |c AS (SELECT s.srn, MAX(o.oj) AS lastoj
        |      FROM s JOIN o ON o.rn <= s.srn GROUP BY s.srn),
        |j AS (SELECT c.srn,
        |        SUM(CASE WHEN o.oj = 0 THEN POWER(0.5, c.lastoj)
        |                 ELSE POWER(0.5, c.lastoj - o.oj + 1) END * o.v) AS num,
        |        SUM(CASE WHEN o.oj = 0 THEN POWER(0.5, c.lastoj)
        |                 ELSE POWER(0.5, c.lastoj - o.oj + 1) END * o.v * o.v) AS num2,
        |        SUM(POWER(CASE WHEN o.oj = 0 THEN POWER(0.5, c.lastoj)
        |                       ELSE POWER(0.5, c.lastoj - o.oj + 1) END, 2)) AS w2
        |      FROM c JOIN o ON o.oj BETWEEN c.lastoj - 60 AND c.lastoj
        |      GROUP BY c.srn)
        |SELECT CAST(srn // 997 AS BIGINT) AS idx,
        |  CAST(FLOOR(num * 10000 + 0.5) AS BIGINT) AS m,
        |  CASE WHEN 1 - w2 > 0 THEN
        |    CAST(FLOOR(GREATEST(0, (num2 - num * num) / (1 - w2)) * 10000 + 0.5) AS BIGINT)
        |  ELSE NULL END AS vv
        |FROM j""".stripMargin,

    // q160: C[b,i,k] = sum_j A[b,i,j]*B[b,j,k] over the row_number cell
    // mappings A: rn -> (rn//600, (rn%600)//20, rn%20), B: rn ->
    // (rn//200, (rn%200)//10, rn%10); flat idx = b*300 + i*10 + k.
    "q160_einsum_bmm" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_linenumber AS BIGINT) AS ln,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |aa AS (SELECT rn // 600 AS b, (rn % 600) // 20 AS i, rn % 20 AS j, q AS v
        |       FROM t WHERE rn < 2400),
        |bb AS (SELECT rn // 200 AS b, (rn % 200) // 10 AS j, rn % 10 AS k, ln AS v
        |       FROM t WHERE rn < 800)
        |SELECT CAST(aa.b * 300 + aa.i * 10 + bb.k AS BIGINT) AS idx,
        |       CAST(SUM(aa.v * bb.v) AS BIGINT) AS v
        |FROM aa JOIN bb ON aa.b = bb.b AND aa.j = bb.j GROUP BY 1""".stripMargin,

    // q161: idx 0..59 the diagonal of M, 60..119 the diagonal of M.N
    // (sum_j M[i,j]*N[j,i]), 120 the trace of N; M/N are the 60x60
    // row-major grids of the first 3600 quantities / linenumbers.
    "q161_einsum_diag_trace" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_linenumber AS BIGINT) AS ln,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |m AS (SELECT rn // 60 AS i, rn % 60 AS j, q AS v FROM t WHERE rn < 3600),
        |n AS (SELECT rn // 60 AS i, rn % 60 AS j, ln AS v FROM t WHERE rn < 3600)
        |SELECT CAST(i AS BIGINT) AS idx, CAST(v AS BIGINT) AS v FROM m WHERE i = j
        |UNION ALL
        |SELECT CAST(m.i + 60 AS BIGINT) AS idx, CAST(SUM(m.v * n.v) AS BIGINT) AS v
        |FROM m JOIN n ON m.j = n.i AND n.j = m.i GROUP BY m.i
        |UNION ALL
        |SELECT 120::BIGINT AS idx, CAST(SUM(v) AS BIGINT) AS v FROM n WHERE i = j""".stripMargin,

    // q163: D[i,l] = sum_jk A[i,j]B[j,k]C[k,l]; flat idx = i*30 + l.
    "q163_einsum_chain" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_linenumber AS BIGINT) AS ln,
        |         CAST(l_partkey AS BIGINT) AS pk,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |a AS (SELECT rn // 40 AS i, rn % 40 AS j, q AS v FROM t WHERE rn < 2400),
        |b AS (SELECT rn // 50 AS j, rn % 50 AS k, ln AS v FROM t WHERE rn < 2000),
        |c AS (SELECT rn // 30 AS k, rn % 30 AS l, pk % 10 AS v FROM t WHERE rn < 1500)
        |SELECT CAST(a.i * 30 + c.l AS BIGINT) AS idx,
        |       CAST(SUM(a.v * b.v * c.v) AS BIGINT) AS v
        |FROM a JOIN b ON a.j = b.j JOIN c ON b.k = c.k GROUP BY 1""".stripMargin,

    // q164: gather at positions (i*37+5) % 3000 of the total order.
    "q164_take_fancy" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |i AS (SELECT range AS i, (range * 37 + 5) % 3000 AS pos FROM range(200))
        |SELECT CAST(i.i AS BIGINT) AS idx, t.q AS q
        |FROM i JOIN t ON t.rn = i.pos""".stripMargin,

    // q165: x[x>=30] flattened; order pinned by (pos % 9973 + 1) weights.
    "q165_boolean_mask" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |sel AS (SELECT q, row_number() OVER (ORDER BY rn) - 1 AS pos
        |        FROM t WHERE q >= 30)
        |SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
        |       CAST(SUM((pos % 9973 + 1) * q) AS BIGINT) AS wsum
        |FROM sel""".stripMargin,

    // q166: x[10:5001:7] = 100+j (array), then x[::101] = -5 (scalar,
    // applied last so it wins at overlaps).
    "q166_setitem" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |v AS (SELECT rn,
        |        CASE WHEN rn % 101 = 0 THEN -5
        |             WHEN rn >= 10 AND rn < 5001 AND (rn - 10) % 7 = 0
        |               THEN 100 + (rn - 10) // 7
        |             ELSE q END AS val
        |      FROM t)
        |SELECT CAST(SUM((rn % 9973 + 1) * val) AS BIGINT) AS wsum,
        |       CAST(SUM(CASE WHEN val = -5 THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |FROM v""".stripMargin,

    // q167: the counter-based RNG recomputed exactly — smix64 is the
    // splitmix64 output finalizer over seed*K1 + flat*K3 + C (stream 0),
    // and the emitted 53-bit draw is hv >> 11.
    "q167_random_bits" -> (duckHashMacros +
      """CREATE OR REPLACE TEMP MACRO smix64(x) AS
        |  xor(m64b(m64a(x)), m64b(m64a(x)) // 2147483648);
        |WITH i AS (SELECT CAST(range AS HUGEINT) AS f FROM range(4096))
        |SELECT CAST(f AS BIGINT) AS idx,
        |       CAST(smix64((wmul64(CAST(42 AS HUGEINT), CAST(2685821657736338717 AS HUGEINT))
        |                    + wmul64(f, CAST(15074714826142052245 AS HUGEINT))
        |                    + 7146057691288625177)
        |                   % 18446744073709551616) // 2048 AS BIGINT) AS bits
        |FROM i""".stripMargin),

    // q168: x[idx] with idx = l_partkey % 2048 of the first 500 rows.
    "q168_takearr" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_partkey AS BIGINT) AS pk,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |i AS (SELECT rn AS i, pk % 2048 AS pos FROM t WHERE rn < 500)
        |SELECT CAST(i.i AS BIGINT) AS idx, t2.q AS q
        |FROM i JOIN t t2 ON t2.rn = i.pos""".stripMargin,

    // q169: 60x100 cents matrix row sums — the zarr write/read must be an
    // exact identity for the grouped sums to hash-match.
    "q169_zarr_roundtrip" ->
      """WITH t AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem)
        |SELECT CAST(rn // 100 AS BIGINT) AS idx, CAST(SUM(c) AS BIGINT) AS cents
        |FROM t WHERE rn < 6000 GROUP BY 1""".stripMargin,

    // q170: keep the rows of the 60x100 quantity matrix whose sum exceeds
    // 2550, renumbered densely in original row order.
    "q170_compress_arr" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |r AS (SELECT rn // 100 AS row, CAST(SUM(q) AS BIGINT) AS s
        |      FROM t WHERE rn < 6000 GROUP BY 1),
        |k AS (SELECT s, row_number() OVER (ORDER BY row) - 1 AS nr
        |      FROM r WHERE s > 2550)
        |SELECT CAST(nr AS BIGINT) AS idx, s FROM k""".stripMargin,

    // q171: gumbel(0,1) = -ln(-ln(1-u)) over the exact q167 bit chain;
    // emitted as the 1e4-scaled integer (identical floor(x*1e4+0.5) on
    // both sides — cross-libm ln drift is ~1e-11 after scaling).
    "q171_random_gumbel" -> (duckHashMacros +
      """CREATE OR REPLACE TEMP MACRO smix64(x) AS
        |  xor(m64b(m64a(x)), m64b(m64a(x)) // 2147483648);
        |WITH i AS (SELECT CAST(range AS HUGEINT) AS f FROM range(4096)),
        |b AS (SELECT CAST(f AS BIGINT) AS idx,
        |        CAST(smix64((wmul64(CAST(42 AS HUGEINT), CAST(2685821657736338717 AS HUGEINT))
        |                     + wmul64(f, CAST(15074714826142052245 AS HUGEINT))
        |                     + 7146057691288625177)
        |                    % 18446744073709551616) // 2048 AS BIGINT) AS bits
        |      FROM i)
        |SELECT idx,
        |       CAST(FLOOR(-ln(-ln(1.0 - bits / 9007199254740992.0)) * 10000 + 0.5) AS BIGINT) AS g4
        |FROM b""".stripMargin),

    // q172: x[idx] = 10000+j with duplicate targets — last-wins in index
    // order == MAX(j) per target because the value is monotone in j.
    "q172_fancy_setitem" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_partkey AS BIGINT) AS pk,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |i AS (SELECT rn AS j, (pk * 3) % 4096 AS tgt FROM t WHERE rn < 500),
        |w AS (SELECT tgt, 10000 + MAX(j) AS val FROM i GROUP BY tgt),
        |v AS (SELECT t.rn, COALESCE(w.val, t.q) AS val
        |      FROM t LEFT JOIN w ON t.rn = w.tgt WHERE t.rn < 4096)
        |SELECT CAST(SUM((rn % 9973 + 1) * val) AS BIGINT) AS wsum,
        |       CAST(SUM(CASE WHEN val >= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |FROM v""".stripMargin,

    // q173: column-gather of the 60x100 matrix by idx = pk % 100 of the
    // first 40 rows; output flat C-order cells of the 60x40 result.
    "q173_takearr_axis" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_partkey AS BIGINT) AS pk,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |i AS (SELECT rn AS j, pk % 100 AS pos FROM t WHERE rn < 40),
        |r AS (SELECT range AS row FROM range(60))
        |SELECT CAST(r.row * 40 + i.j AS BIGINT) AS idx, t2.q AS q
        |FROM r CROSS JOIN i JOIN t t2 ON t2.rn = r.row * 100 + i.pos""".stripMargin,

    // q174: x[mask] = selected*1000+7 where mask = (q>=30) and the values
    // are the booleanMask selection of x itself — relationally this is
    // just where(q>=30, 1000q+7, q).
    "q174_masked_assign" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |v AS (SELECT rn, CASE WHEN q >= 30 THEN q * 1000 + 7 ELSE q END AS val
        |      FROM t WHERE rn < 6000)
        |SELECT CAST(SUM((rn % 9973 + 1) * val) AS BIGINT) AS wsum,
        |       CAST(MAX(val) AS BIGINT) AS mx
        |FROM v""".stripMargin,

    // q175: bag accumulate == the running-sum window over the total order.
    "q175_bag_accumulate" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem)
        |SELECT CAST(rn AS BIGINT) AS idx,
        |       CAST(SUM(q) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |FROM t WHERE rn < 3000""".stripMargin,

    // q176: the full SemDeDup chain restated — the q126 Lloyd replica
    // (k=8 seeds by lowest id, 2 iterations, centroid means rounded
    // half-up at 1e-6, ties to the lowest cell) on the odd-id subset,
    // then exact within-cluster cosine with keep-lowest-id survivors.
    // vec_dot is bit-identical to list_inner_product (index-order double
    // accumulation), so the >= tau comparison agrees exactly.
    "q176_semantic_dedup" ->
      """CREATE OR REPLACE TEMP MACRO r6m(x) AS floor(x * 1e6 + 0.5) / 1e6;
        |WITH corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |              WHERE vec_id % 2 = 1),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
        |         v AS cv
        |       FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, v, cell FROM (
        |        SELECT vec_id, v, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY d, cell) AS rk
        |        FROM (SELECT corp.vec_id, corp.v, c0.cell,
        |          list_sum(list_transform(range(1, len(corp.v) + 1),
        |            i -> (corp.v[i] - c0.cv[i]) * (corp.v[i] - c0.cv[i]))) AS d
        |          FROM corp, c0)) WHERE rk = 1),
        |u1 AS (SELECT cell, list(m ORDER BY dim) AS uv FROM (
        |        SELECT cell, dim, r6m(avg(x)) AS m FROM (
        |          SELECT cell, unnest(range(1, len(v) + 1)) AS dim,
        |                 unnest(v) AS x FROM a1)
        |        GROUP BY cell, dim) GROUP BY cell),
        |c1 AS (SELECT c0.cell, coalesce(u1.uv, c0.cv) AS cv
        |       FROM c0 LEFT JOIN u1 USING (cell)),
        |a2 AS (SELECT vec_id, v, cell FROM (
        |        SELECT vec_id, v, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY d, cell) AS rk
        |        FROM (SELECT corp.vec_id, corp.v, c1.cell,
        |          list_sum(list_transform(range(1, len(corp.v) + 1),
        |            i -> (corp.v[i] - c1.cv[i]) * (corp.v[i] - c1.cv[i]))) AS d
        |          FROM corp, c1)) WHERE rk = 1),
        |u2 AS (SELECT cell, list(m ORDER BY dim) AS uv FROM (
        |        SELECT cell, dim, r6m(avg(x)) AS m FROM (
        |          SELECT cell, unnest(range(1, len(v) + 1)) AS dim,
        |                 unnest(v) AS x FROM a2)
        |        GROUP BY cell, dim) GROUP BY cell),
        |c2 AS (SELECT c1.cell, coalesce(u2.uv, c1.cv) AS cv
        |       FROM c1 LEFT JOIN u2 USING (cell)),
        |af AS (SELECT vec_id, cell FROM (
        |        SELECT vec_id, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY d, cell) AS rk
        |        FROM (SELECT corp.vec_id, c2.cell,
        |          list_sum(list_transform(range(1, len(corp.v) + 1),
        |            i -> (corp.v[i] - c2.cv[i]) * (corp.v[i] - c2.cv[i]))) AS d
        |          FROM corp, c2)) WHERE rk = 1),
        |nm AS (SELECT corp.vec_id, corp.v,
        |         sqrt(list_inner_product(corp.v, corp.v)) AS nrm FROM corp),
        |pr AS (SELECT af.vec_id, af.cell, nm.v, nm.nrm
        |       FROM af JOIN nm USING (vec_id) WHERE nm.nrm > 0),
        |dropped AS (SELECT DISTINCT a.vec_id FROM pr a JOIN pr b
        |       ON a.cell = b.cell AND b.vec_id < a.vec_id
        |       WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3)
        |SELECT CAST(af.vec_id AS BIGINT) AS id, af.cell FROM af
        |WHERE af.vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,

    // q177: ediff1d = q[i+1]-q[i] over the total order; flatnonzero = the
    // positions (in a fresh dense index) where the diff is nonzero.
    "q177_flatnonzero_diff" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |d AS (SELECT a.rn AS i, b.q - a.q AS dv
        |      FROM t a JOIN t b ON b.rn = a.rn + 1 WHERE a.rn < 4095),
        |nz AS (SELECT i, row_number() OVER (ORDER BY i) - 1 AS k
        |       FROM d WHERE dv <> 0)
        |SELECT CAST(k AS BIGINT) AS idx, CAST(i AS BIGINT) AS pos FROM nz""".stripMargin,

    // q178: np.ma reductions — valid = quantity OUTSIDE [10,30]; masked
    // mean = exact integer sum / valid count (one double division, both
    // engines bit-identical).
    "q178_masked_mean" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |cells AS (SELECT rn // 100 AS row, q FROM t WHERE rn < 6000),
        |agg AS (SELECT row, count(*) FILTER (q < 10 OR q > 30) AS c,
        |          coalesce(sum(q) FILTER (q < 10 OR q > 30), 0) AS s
        |        FROM cells GROUP BY row)
        |SELECT CAST(row AS BIGINT) AS idx, CAST(c AS BIGINT) AS c,
        |       CAST(s AS BIGINT) AS s, CAST(s AS DOUBLE) / c AS mean
        |FROM agg""".stripMargin,

    // q179: ifft2(fft2(x)) recovers x exactly after rounding — the oracle
    // is the source grid itself (the forward transform is pinned by q180,
    // whose identities an identity "transform" cannot satisfy).
    "q179_fft2_roundtrip" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem)
        |SELECT CAST(rn AS BIGINT) AS idx, CAST(q AS BIGINT) AS v
        |FROM t WHERE rn < 2048""".stripMargin,

    // q180: DC bin = plain sum; Parseval: sum|X|^2 / N = sum x^2 — both
    // exact integers, unfakeable by a pass-through.
    "q180_fft_parseval" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem)
        |SELECT CAST(sum(q) AS BIGINT) AS dc,
        |       CAST(sum(q * q) AS BIGINT) AS parseval
        |FROM t WHERE rn < 2048""".stripMargin,

    // q181: sliding windows restated as frame window functions over the
    // proven-total 5-column order (window starts 0..4089 for n=4096, w=7).
    "q181_sliding_window" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |w AS (SELECT rn,
        |        sum(q) OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS wsum,
        |        min(q) OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS wmin
        |      FROM t WHERE rn < 4096)
        |SELECT CAST(rn AS BIGINT) AS idx, CAST(wsum AS BIGINT) AS wsum,
        |       CAST(wmin AS BIGINT) AS wmin
        |FROM w WHERE rn < 4090""".stripMargin,

    // q182: unravel over dims (4,5,6) = (k/30, k%30/6, k%6); ravel folds
    // back — exact integer div/mod on both engines.
    "q182_unravel_ravel" ->
      """WITH o AS (
        |  SELECT o_orderkey % 120 AS k,
        |         row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        |  FROM orders ORDER BY o_orderkey LIMIT 1024)
        |SELECT CAST(rn AS BIGINT) AS idx,
        |       CAST(k // 30 AS BIGINT) AS c0,
        |       CAST((k % 30) // 6 AS BIGINT) AS c1,
        |       CAST(k % 6 AS BIGINT) AS c2,
        |       CAST(k AS BIGINT) AS rav
        |FROM o""".stripMargin,

    // q183: meshgrid 'xy' over (nationkey+1, regionkey+2) = the cross
    // join laid out in C order over shape (nregion, nnation).
    "q183_meshgrid" ->
      """WITH n AS (SELECT n_nationkey + 1 AS xv,
        |             row_number() OVER (ORDER BY n_nationkey) - 1 AS j,
        |             count(*) OVER () AS nn
        |           FROM nation),
        |r AS (SELECT r_regionkey + 2 AS yv,
        |        row_number() OVER (ORDER BY r_regionkey) - 1 AS i
        |      FROM region)
        |SELECT CAST(r.i * n.nn + n.j AS BIGINT) AS idx,
        |       CAST(n.xv AS BIGINT) AS xv, CAST(r.yv AS BIGINT) AS yv,
        |       CAST(n.xv * r.yv AS BIGINT) AS xy
        |FROM n CROSS JOIN r""".stripMargin,

    // q184: each pad mode's cells as index arithmetic over the same
    // 500-element integer sequence (wrap = tail|x|head, symmetric =
    // reversed head|x|reversed tail, edge = endpoint copies, maximum =
    // whole-axis max fill).
    "q184_pad_modes" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem QUALIFY rn < 500),
        |g AS (SELECT range AS i FROM range(510)),
        |wrap AS (SELECT 'wrap' AS mode, g.i AS idx,
        |           (SELECT q FROM t WHERE rn = CASE WHEN g.i < 2 THEN 498 + g.i
        |                                            WHEN g.i < 502 THEN g.i - 2
        |                                            ELSE g.i - 502 END) AS v
        |         FROM g WHERE g.i < 504),
        |sym AS (SELECT 'symmetric' AS mode, g.i AS idx,
        |          (SELECT q FROM t WHERE rn = CASE WHEN g.i < 3 THEN 2 - g.i
        |                                           WHEN g.i < 503 THEN g.i - 3
        |                                           ELSE 1002 - g.i END) AS v
        |        FROM g WHERE g.i < 507),
        |edge AS (SELECT 'edge' AS mode, g.i AS idx,
        |           (SELECT q FROM t WHERE rn = CASE WHEN g.i < 1 THEN 0
        |                                            WHEN g.i < 501 THEN g.i - 1
        |                                            ELSE 499 END) AS v
        |         FROM g WHERE g.i < 502),
        |mx AS (SELECT 'maximum' AS mode, g.i AS idx,
        |         CASE WHEN g.i < 5 OR g.i >= 505 THEN (SELECT max(q) FROM t)
        |              ELSE (SELECT q FROM t WHERE rn = g.i - 5) END AS v
        |       FROM g WHERE g.i < 510)
        |SELECT mode, CAST(idx AS BIGINT) AS idx, CAST(v AS BIGINT) AS v
        |FROM (SELECT * FROM wrap UNION ALL SELECT * FROM sym
        |      UNION ALL SELECT * FROM edge UNION ALL SELECT * FROM mx)""".stripMargin,

    // q185: the BMP encode -> sorted-glob imread -> stack linearization is
    // the identity on the source byte order, so the oracle is the plain
    // 192-row prefix (quantities are < 256, byte-exact).
    "q185_imread_stack" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem)
        |SELECT CAST(rn AS BIGINT) AS idx, CAST(q AS BIGINT) AS v
        |FROM t WHERE rn < 192""".stripMargin,

    // q186: the direct convolution sum — every output index k has at
    // least one (i, k-i) pair because 0..299 + 0..39 covers 0..338.
    "q186_fft_convolve" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem QUALIFY rn < 300),
        |o AS (SELECT o_orderkey % 9 + 1 AS b,
        |        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        |      FROM orders ORDER BY o_orderkey LIMIT 40)
        |SELECT CAST(t.rn + o.rn AS BIGINT) AS idx,
        |       CAST(sum(t.q * o.b) AS BIGINT) AS v
        |FROM t, o GROUP BY 1""".stripMargin,

    // q187: argtopk = per-row rank by (q DESC, col ASC), first 5 columns.
    "q187_argtopk" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem QUALIFY rn < 6000),
        |cells AS (SELECT rn // 100 AS row, rn % 100 AS col, q FROM t),
        |r AS (SELECT row, col,
        |        row_number() OVER (PARTITION BY row ORDER BY q DESC, col) - 1 AS j
        |      FROM cells)
        |SELECT CAST(row * 5 + j AS BIGINT) AS idx, CAST(col AS BIGINT) AS v
        |FROM r WHERE j < 5""".stripMargin,

    // q188: fancy ROW setitem (last-wins == MAX(j) per target row, value
    // monotone in j) then elementwise masked reassignment of every updated
    // cell — relationally a two-step CASE chain over the 64x64 flatten.
    "q188_setitem_2d" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_partkey AS BIGINT) AS pk,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |i AS (SELECT rn AS j, (pk * 7) % 64 AS tgt FROM t WHERE rn < 20),
        |w AS (SELECT tgt, MAX(j) AS j FROM i GROUP BY tgt),
        |cells AS (SELECT rn AS f, rn // 64 AS r, rn % 64 AS c, q FROM t WHERE rn < 4096),
        |v1 AS (SELECT f, CASE WHEN w.tgt IS NOT NULL THEN 20000 + 100 * w.j + c
        |                      ELSE q END AS val
        |       FROM cells LEFT JOIN w ON cells.r = w.tgt),
        |v2 AS (SELECT f, CASE WHEN val >= 20000 THEN val * 10 + 3 ELSE val END AS val
        |       FROM v1)
        |SELECT CAST(SUM((f % 9973 + 1) * val) AS BIGINT) AS wsum,
        |       CAST(SUM(CASE WHEN val >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |FROM v2""".stripMargin,

    // q189: irfft(rfft(x)) == x exactly (after fp rounding) — identity on
    // the total-ordered head.
    "q189_rfft_roundtrip" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem)
        |SELECT CAST(rn AS BIGINT) AS idx, q FROM t WHERE rn < 4096""".stripMargin,

    // q190: the three setitem forms restated relationally — last-wins per
    // target row/column is MAX(flattened index) (independent of the
    // engine's scatter, not circular), the mixed tuple is a row-predicate
    // x column-join, the scalar fill a pure predicate. Sequential CASE
    // priority = write order.
    "q190_setitem_mixed" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_partkey AS BIGINT) AS pk,
        |         CAST(l_suppkey AS BIGINT) AS sk,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |i1 AS (SELECT rn AS p, (pk * 7) % 64 AS tgt FROM t WHERE rn < 20),
        |w1 AS (SELECT tgt, MAX(p) AS p FROM i1 GROUP BY tgt),
        |i2 AS (SELECT rn AS p, (sk * 11) % 64 AS tgt FROM t WHERE rn < 12),
        |w2 AS (SELECT tgt, MAX(p) AS p FROM i2 GROUP BY tgt),
        |cells AS (SELECT rn AS f, rn // 64 AS r, rn % 64 AS c, q FROM t WHERE rn < 4096),
        |v1 AS (SELECT f, r, c,
        |         CASE WHEN w1.tgt IS NOT NULL THEN 20000 + 100 * w1.p + c ELSE q END AS val
        |       FROM cells LEFT JOIN w1 ON cells.r = w1.tgt),
        |v2 AS (SELECT f, r, c,
        |         CASE WHEN r BETWEEN 14 AND 50 AND (50 - r) % 4 = 0 AND w2.tgt IS NOT NULL
        |              THEN 30000 + 50 * ((50 - r) // 4) + w2.p ELSE val END AS val
        |       FROM v1 LEFT JOIN w2 ON v1.c = w2.tgt),
        |v3 AS (SELECT f, CASE WHEN r % 9 = 0 AND c % 7 = 4 THEN 77777 ELSE val END AS val
        |       FROM v2)
        |SELECT CAST(SUM((f % 9973 + 1) * val) AS BIGINT) AS wsum,
        |       CAST(SUM(CASE WHEN val >= 20000 THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |FROM v3""".stripMargin,

    "q191_tpch_q3" ->
      """SELECT o.o_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o.o_orderpriority,
        |       CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < '1998-07-01'
        |  AND l.l_shipdate > '1998-07-01'
        |GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue_cents DESC, o.o_orderdate ASC, o.o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q192_tpch_q6" ->
      """SELECT CAST(SUM(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q193_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o.o_totalprice, b.sum_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderdate ASC, o.o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "q194_tpch_q5" ->
      """SELECT n.n_name,
        |       CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE c.c_nationkey = s.s_nationkey
        |  AND r.r_name = 'ASIA'
        |  AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
        |GROUP BY n.n_name""".stripMargin,

    "q196_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
        |       COUNT(*) AS count_order,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_price_cents,
        |       CAST(SUM(CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_disc
        |FROM lineitem
        |WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q197_tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |       CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue_cents DESC, c.c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q198_tpch_q14" ->
      """SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
        |                     THEN CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5) AS BIGINT)
        |                     ELSE 0 END) AS BIGINT) AS promo_cents,
        |       CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= '1997-01-01' AND l.l_shipdate < '1997-02-01'""".stripMargin,

    // q199: pointwise gather x.vindex[(p*7+3)%60, (p*13+11)%50] over the
    // (60,50) reshape of the first 3000 quantities — flat position r*50+c.
    "q199_vindex" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) - 1 AS rn
        |  FROM lineitem),
        |i AS (SELECT range AS p, (range * 7 + 3) % 60 AS r, (range * 13 + 11) % 50 AS c
        |      FROM range(200))
        |SELECT CAST(i.p AS BIGINT) AS idx, t.q AS q
        |FROM i JOIN t ON t.rn = i.r * 50 + i.c""".stripMargin,

    "q200_tpch_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= '1996-07-01' AND o.o_orderdate < '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // q201: the orders filter must live in the join condition so
    // zero-order customers keep c_count = 0.
    "q201_tpch_q13" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        |      FROM customer c LEFT JOIN orders o
        |        ON c.c_custkey = o.o_custkey
        |       AND o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q202_tpch_q16" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |       CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part p ON ps.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#4'
        |  AND p.p_type NOT LIKE 'MEDIUM%'
        |  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
        |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin,

    "q203_tpch_q21" ->
      """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 20""".stripMargin,

    // q204: the threshold is an exact ratio of two integers (deterministic
    // double in both engines); bigint > double promotes exactly below 2^53.
    "q204_tpch_q22" ->
      """WITH thr AS (
        |  SELECT CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / COUNT(*) AS t
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
        |       CAST(SUM(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS totacctbal_cents
        |FROM customer c, thr
        |WHERE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) > thr.t
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin,

    // q205: qty < 0.2*avg(qty per part) stated as 5*qty*cnt < sum_qty —
    // exact longs on both sides; the per-part aggregate is over ALL
    // lineitems of the part (the engine prunes to selected parts first,
    // which leaves per-part values unchanged).
    "q205_tpch_q17" ->
      """WITH pa AS (
        |  SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(COUNT(*) AS BIGINT) AS cnt_rows,
        |       CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN pa ON pa.l_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#23' AND p.p_size < 20
        |  AND 5 * CAST(l.l_quantity AS BIGINT) * pa.cnt < pa.sum_qty""".stripMargin,

    "q206_tpch_q20" ->
      """SELECT s.s_name
        |FROM supplier s
        |WHERE EXISTS (
        |  SELECT 1 FROM (
        |    SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS st,
        |           SUM(CASE WHEN l_shipdate >= '1997-01-01' AND l_shipdate < '1997-07-01'
        |                    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS sw
        |    FROM lineitem GROUP BY 1, 2) t
        |  WHERE t.l_suppkey = s.s_suppkey AND t.sw = 0 AND t.st >= 100
        |    AND EXISTS (SELECT 1 FROM part p
        |                WHERE p.p_partkey = t.l_partkey AND p.p_name LIKE 'small%'))
        |ORDER BY s.s_name""".stripMargin,

    // q207: the disjuncts restated verbatim; revenue in exact e4 ints on
    // both engines (round() agrees away from .5 boundaries, and the
    // fixture prices are exact 2-decimal values).
    "q207_tpch_q19" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS cnt_rows,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
        |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand='Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand='Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand='Brand#34' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // q208: `= (SELECT MAX ...)` over the same grouped view — exact long
    // equality, so supplier ties (if any) appear identically in both
    // engines.
    "q208_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey, CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
        |         * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS total_revenue_e4
        |  FROM lineitem WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name, rev.total_revenue_e4
        |FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
        |WHERE rev.total_revenue_e4 = (SELECT MAX(total_revenue_e4) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,

    "q209_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |       CAST(SUM(rev_e4) AS BIGINT) AS revenue_e4,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |             CAST(round(l.l_extendedprice*100) AS BIGINT)
        |               * (100 - CAST(round(l.l_discount*100) AS BIGINT)) AS rev_e4
        |      FROM lineitem l
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |      JOIN customer c ON c.c_custkey = o.o_custkey
        |      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |      WHERE ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_12')
        |          OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_7'))
        |        AND l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1998-01-01')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    // q210: pair cost = MIN line price per (part,supplier) — the
    // lineitem-derived partsupp stand-in; the correlated min restated as
    // a grouped view + equality probe.  Pruning to the part family
    // first (what the engine does) leaves per-pair/per-part minima
    // unchanged.
    "q210_tpch_q2" ->
      """WITH pc AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(CAST(round(l_extendedprice*100) AS BIGINT)) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |rs AS (
        |  SELECT s.s_suppkey, s.s_name, n.n_name
        |  FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |  WHERE r.r_name = 'ASIA'),
        |best AS (
        |  SELECT pc.l_partkey, MIN(pc.cost_cents) AS min_cost
        |  FROM pc JOIN rs ON rs.s_suppkey = pc.l_suppkey
        |  GROUP BY 1)
        |SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey, p.p_brand, rs.s_name,
        |       rs.n_name AS s_nation, pc.cost_cents
        |FROM part p
        |JOIN pc ON pc.l_partkey = p.p_partkey
        |JOIN rs ON rs.s_suppkey = pc.l_suppkey
        |JOIN best ON best.l_partkey = pc.l_partkey AND pc.cost_cents = best.min_cost
        |WHERE p.p_size <= 15 AND p.p_type = 'ECONOMY'
        |ORDER BY pc.cost_cents, p.p_partkey, rs.s_name
        |LIMIT 100""".stripMargin,

    // q211: the market share reported as its two exact integer sums.
    "q211_tpch_q8" ->
      """SELECT o_year,
        |       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4 ELSE 0 END) AS BIGINT) AS nation_rev_e4,
        |       CAST(SUM(rev_e4) AS BIGINT) AS total_rev_e4
        |FROM (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, n1.n_name AS supp_nation,
        |             CAST(round(l.l_extendedprice*100) AS BIGINT)
        |               * (100 - CAST(round(l.l_discount*100) AS BIGINT)) AS rev_e4
        |      FROM lineitem l
        |      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey
        |      JOIN customer c ON c.c_custkey = o.o_custkey
        |      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |      JOIN region r ON r.r_regionkey = n2.n_regionkey AND r.r_name = 'AMERICA'
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |      WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1998-01-01')
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    // q212: profit proxy = revenue_e4 − qty·retail_cents·50 (no
    // partsupp table; p_retailprice is the unit-cost stand-in) — exact
    // longs, can go negative.
    "q212_tpch_q9" ->
      """SELECT n_name, o_year, CAST(SUM(profit_e4) AS BIGINT) AS sum_profit_e4
        |FROM (SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |             CAST(round(l.l_extendedprice*100) AS BIGINT)
        |               * (100 - CAST(round(l.l_discount*100) AS BIGINT))
        |             - CAST(l.l_quantity AS BIGINT)
        |               * CAST(round(p.p_retailprice*100) AS BIGINT) * 50 AS profit_e4
        |      FROM lineitem l
        |      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |      JOIN nation n ON n.n_nationkey = s.s_nationkey
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey)
        |GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""".stripMargin,

    // q213: group-vs-global threshold, scale-invariant (> 2× the mean
    // share), exact-integer cross-multiplication on both engines.
    "q213_tpch_q11" ->
      """WITH pv AS (
        |  SELECT l_partkey,
        |         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
        |  GROUP BY l_partkey)
        |SELECT CAST(l_partkey AS BIGINT) AS l_partkey, value_cents
        |FROM pv, (SELECT SUM(value_cents) AS total, COUNT(*) AS cnt FROM pv) t
        |WHERE value_cents * t.cnt > 2 * t.total
        |ORDER BY value_cents DESC, l_partkey""".stripMargin,

    "q214_tpch_q12" ->
      """SELECT l.l_linestatus,
        |       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
        |GROUP BY l.l_linestatus ORDER BY l.l_linestatus""".stripMargin,

    // q195: the draw is a pure function of (seed, doc_id) — recomputed
    // bit-for-bit by the hash64 macro; signed view on both sides so the
    // rank order agrees with the engine's Long ordering.
    "q195_bag_sample_content" -> (duckHashMacros +
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT doc_id, lang, n_chars,
        |        tosigned(hash64('7|' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR))) AS h
        |      FROM documents)
        |ORDER BY h, CAST(doc_id AS VARCHAR)
        |LIMIT 50""".stripMargin),
    "q215_group_cumsum_tree" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey, CAST(l_quantity AS BIGINT)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_qty
        |FROM lineitem""".stripMargin,
    "q216_group_ffill_tree" ->
      """SELECT event_id, round(filled_value, 4) AS filled_value FROM (
        |  SELECT event_id,
        |    last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value
        |  FROM events)""".stripMargin,
    "q217_group_rolling_tree" ->
      """SELECT event_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents
        |FROM events""".stripMargin,
    "q218_group_quantile_tree" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS q1_price,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS q2_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS q3_price
        |FROM lineitem GROUP BY 1""".stripMargin)
}
