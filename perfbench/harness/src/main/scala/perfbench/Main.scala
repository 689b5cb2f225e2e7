package perfbench

import graft.{GraftSession, SparkEntry}
import graft.diagnostics.Diagnostics
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One benchmark process: a closed loop with one client.
  *
  * The driver thread sends the workload's queries one after another into
  * the engine through its public entry points (`SparkEntry.queries` to
  * build, a `noop`-sink `save()` to execute, `spark.catalog.clearCache()`
  * between queries as `graft.Bench` does):
  *
  *  1. session, then one untimed pass that writes every query's result as
  *     parquet for the correctness check; then prints `PERFBENCH READY`,
  *     the end of set-up;
  *  2. untimed warm-up passes until `--warmup` seconds have elapsed (the
  *     JIT keeps speeding the engine up for a few passes after set-up),
  *     then timed passes until `--seconds` have elapsed, each in a seeded
  *     query order. With `--trace 1` the timed passes alternate untraced
  *     and traced (listeners registered), at least three of them, so the
  *     tracing overhead is measured in the same process (the first,
  *     coldest pass is left out of that comparison);
  *  3. writes `result.json` (samples, per-layer metrics, context) and,
  *     when traced, `trace.json` (every span) into `--out`.
  *
  * Arguments: --data DIR --out DIR --queries q1,q2,.. --seed N
  * --warmup S --seconds S --trace 0|1 --cpus N
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (data, out) = (opt("data"), opt("out"))
    val queries = opt("queries").split(',').toSeq
    val seed = opt("seed").toLong
    val warmup = opt("warmup").toDouble
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    Files.createDirectories(Paths.get(out))

    // the engine's own session, with its warehouse inside the work dir
    // (a static conf, so it must be set before GraftSession.getOrCreate
    // picks the session up)
    GraftSession.builder(cpus).config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val spark = GraftSession.getOrCreate(cpus)
    val sc = spark.sparkContext

    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    val failures = mutable.ArrayBuffer.empty[String]
    val dumpFailed = mutable.ArrayBuffer.empty[String]

    // 1. untimed pass: correctness dump (as graft.Verify writes it)
    queries.foreach { q =>
      try fns(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/dump/$q")
      catch { case e: Throwable => failures += s"$q: ${oneLine(e)}"; dumpFailed += q }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$out/dump/oracle_sql.json"),
      json(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    println("PERFBENCH READY")
    System.out.flush()

    // 2. warm-up, then timed passes
    val w0 = System.nanoTime()
    var warm = 0
    while (warm < 1 || (System.nanoTime() - w0) / 1e9 < warmup) {
      new Random(seed * 1000003L - 1 - warm).shuffle(queries).foreach { q =>
        try fns(q)(spark, data).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => failures += s"$q: ${oneLine(e)}" }
        spark.catalog.clearCache()
      }
      warm += 1
    }

    val cache = new Diagnostics.CacheProfiler(spark)
    val tracer = new Tracer(cache)
    val samples = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Double)]
    val traces = mutable.ArrayBuffer.empty[(Int, Tracer.QueryTrace)]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
    val epoch0 = System.currentTimeMillis() - System.nanoTime() / 1e6
    def nowMs: Double = epoch0 + System.nanoTime() / 1e6

    // a traced run needs an untraced pass after the first (see perLayer)
    val minPasses = if (traced) 3 else 1
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val tracing = traced && pass % 2 == 1
      if (tracing) {
        sc.addSparkListener(tracer); cache.register()
        spark.listenerManager.register(tracer)
      }
      val order = new Random(seed * 1000003L + pass).shuffle(queries)
      val pj0 = cpuJiffies()
      val p0 = System.nanoTime()
      order.foreach { q =>
        val exec = s"$pass:$q"
        sc.setLocalProperty(Tracer.ExecKey, exec)
        sc.setLocalProperty(Tracer.PhaseKey, "construct")
        val (gc0, cg0, fs0) = (gcMs, CodeGenerator.compileTime, fileBytesWritten)
        val rdds0 = sc.getPersistentRDDs.keySet
        val j0 = cpuJiffies()
        val c0 = nowMs
        var c1 = c0
        val ok = try {
          val df = fns(q)(spark, data)
          c1 = nowMs
          sc.setLocalProperty(Tracer.PhaseKey, "exec")
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable => failures += s"$q: ${oneLine(e)}"; false }
        val c2 = nowMs
        val j1 = cpuJiffies()
        if (c1 == c0) c1 = c2
        samples += s"""{"query":${str(q)},"pass":$pass,"traced":$tracing,"ok":$ok,""" +
          s""""construct_s":${(c1 - c0) / 1e3},"exec_s":${(c2 - c1) / 1e3},""" +
          s""""steal_frac":${stealFrac(j0, j1)}}"""
        if (tracing) {
          val extra = mutable.Map(
            // RDDs this execution persisted and left persisted
            "cache.leaked_rdds" -> (sc.getPersistentRDDs.keySet -- rdds0).size.toDouble,
            "sources.output_mb" -> (fileBytesWritten - fs0) / Tracer.Mb,
            "jvm.gc_s" -> (gcMs - gc0) / 1e3,
            "codegen.compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9)
          if (q.startsWith("q120_"))
            extra("operators.cc_rounds") = Diagnostics.Counters.ccRounds.toDouble
          if (q.startsWith("q176_"))
            Diagnostics.Counters.semDedupStats.foreach(s =>
              extra("operators.semdedup_skipped_frac") = s.skippedPairFraction)
          BusShim.drain(sc)
          traces += pass -> tracer.finish(exec, q, (c0, c1, c2), extra.toMap)
        }
        spark.catalog.clearCache()
      }
      passes += ((tracing, (System.nanoTime() - p0) / 1e9, stealFrac(pj0, cpuJiffies())))
      if (tracing) {
        sc.removeSparkListener(tracer); cache.unregister()
        spark.listenerManager.unregister(tracer)
      }
      pass += 1
    }
    sc.setLocalProperty(Tracer.ExecKey, null)
    sc.setLocalProperty(Tracer.PhaseKey, null)

    // 3. results
    val layers = if (!traced) Map.empty[String, Double]
                 else perLayer(traces.toSeq, passes.map(p => (p._1, p._2)).toSeq)
    val canary = cpuCanary()
    val hwmMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    val passJson = passes.map { case (t, s, f) =>
      s"""{"traced":$t,"total_s":$s,"steal_frac":$f}""" }
    Files.writeString(Paths.get(s"$out/result.json"),
      s"""{"samples":${samples.mkString("[", ",", "]")},""" +
        s""""passes":${passJson.mkString("[", ",", "]")},""" +
        s""""failures":${failures.map(str).mkString("[", ",", "]")},""" +
        s""""dump_failed":${dumpFailed.map(str).mkString("[", ",", "]")},""" +
        s""""warmup_execs":${warm * queries.size},""" +
        s""""per_layer":${json(layers)},"peak_rss_mb":$hwmMb,"cpu_canary_s":$canary}""")
    if (traced) Files.writeString(Paths.get(s"$out/trace.json"), traces.map { case (p, t) =>
      t.spans.map(s => s"""{"pass":$p,"exec":${str(s.exec)},"id":${s.id},""" +
        s""""parent":${s.parent},"layer":${str(s.layer)},"name":${str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""").mkString(",\n")
    }.filter(_.nonEmpty).mkString("[\n", ",\n", "\n]\n"))
    spark.stop()
  }

  /** Layer metrics of the traced passes: summed over the queries of a
    * pass (ratios and high-water marks taken as their maximum), then the
    * median over passes. */
  private def perLayer(traces: Seq[(Int, Tracer.QueryTrace)],
                       passes: Seq[(Boolean, Double)]): Map[String, Double] = {
    val maxed = Set("scheduler.task_skew", "memory.peak_exec_mb", "cache.peak_mb",
      "operators.cc_rounds", "operators.semdedup_skipped_frac")
    val perPass = traces.groupBy(_._1).values.map { ts =>
      val qs = ts.map(_._2)
      val keys = qs.flatMap(_.metrics.keys).distinct
      val m = keys.map { k =>
        val vs = qs.flatMap(_.metrics.get(k))
        k -> (if (maxed(k)) vs.max else vs.sum)
      }.toMap
      val self = Tracer.selfTimes(qs.flatMap(_.spans)).map { case (l, v) => s"trace.$l.self_s" -> v }
      val run = m.getOrElse("task.run_s", 0.0)
      m ++ self + ("task.cpu_over_run" -> (if (run > 0) m.getOrElse("task.cpu_s", 0.0) / run else 0.0))
    }.toSeq
    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(perPass.flatMap(_.get(k)))).toMap
    // pass 0 is the coldest and always untraced: it is left out
    val (t, u) = passes.drop(1).partition(_._1)
    val overhead = if (t.nonEmpty && u.nonEmpty)
      Map("trace.overhead_frac" -> (median(t.map(_._2)) / median(u.map(_._2)) - 1)) else Map()
    med ++ overhead
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (busy, steal) jiffies summed over the machine's CPUs, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7)) // user nice system irq softirq; steal
  }

  /** Share of the CPU time this machine's busy CPUs asked for that the
    * hypervisor gave to someone else, between two readings. */
  private def stealFrac(a: (Long, Long), b: (Long, Long)): Double = {
    val (busy, steal) = (b._1 - a._1, b._2 - a._2)
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  /** Bytes written so far through Hadoop's local file system, by any
    * thread of this process: the files a query writes (the noop sink
    * writes none; shuffle and block storage bypass Hadoop). */
  private def fileBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** graft.Bench's single-thread CPU canary: host context, not a metric. */
  private def cpuCanary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 28)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("canary fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  private def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator.next()

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def json(m: Map[String, _]): String = m.toSeq.sortBy(_._1).map {
    case (k, v: String) => s"${str(k)}:${str(v)}"
    case (k, v) => s"${str(k)}:$v"
  }.mkString("{", ",", "}")
}
