package perfbench

import graft.diagnostics.Diagnostics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Observer for the traced run, registered only by the benchmark.
  *
  * The driver thread tags every job with the query execution that caused
  * it and the phase it ran in (construct = inside `SparkEntry.queries`,
  * exec = inside `save()`) through two Spark local properties; stages and
  * tasks inherit the tag through their job. Planning phases arrive through
  * a [[QueryExecutionListener]] and are matched to a phase by their start
  * time. Cache residency comes from the engine's own
  * [[Diagnostics.CacheProfiler]].
  *
  * After the listener bus is drained, [[finish]] turns one query's events
  * into its layer counters and spans (query → construct/exec → plan/job →
  * stage). Everything stays in memory until the run ends.
  */
final class Tracer(cache: Diagnostics.CacheProfiler)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class Job(val id: Int, val exec: String, val phase: String,
                          val startMs: Long, var endMs: Long)
  private final class Stage(val id: Int, val job: Job, var module: String,
                            var startMs: Long, var endMs: Long) {
    var ran = false
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val plans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val acc = mutable.Map.empty[String, mutable.Map[String, Double]]

  private def add(exec: String, key: String, v: Double): Unit = {
    val m = acc.getOrElseUpdate(exec, mutable.Map.empty[String, Double])
    m(key) = m.getOrElse(key, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty(ExecKey))).getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("exec")
    val job = new Job(e.jobId, exec, phase, e.time, e.time)
    jobs(e.jobId) = job
    e.stageInfos.foreach { si =>
      if (!stages.contains(si.stageId))
        stages(si.stageId) = new Stage(si.stageId, job, moduleOf(si.details), e.time, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.ran = true
      s.startMs = e.stageInfo.submissionTime.getOrElse(s.startMs)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics); ti <- Option(e.taskInfo)) {
      val x = s.job.exec
      s.taskMs += ti.duration
      add(x, "scheduler.tasks", 1)
      add(x, "task.run_s", m.executorRunTime / 1e3)
      add(x, "task.cpu_s", m.executorCpuTime / 1e9)
      add(x, "task.gc_s", m.jvmGCTime / 1e3)
      add(x, "task.deser_s", m.executorDeserializeTime / 1e3)
      add(x, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
      add(x, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
      add(x, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(x, "memory.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb)
      add(x, "sources.input_mb", m.inputMetrics.bytesRead / Mb)
      add(x, "sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      add(x, s"${s.module}.task_s", m.executorRunTime / 1e3)
      val peak = acc(x).getOrElse("memory.peak_exec_mb", 0.0)
      acc(x)("memory.peak_exec_mb") = math.max(peak, m.peakExecutionMemory / Mb)
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).foreach { p =>
      phases.get(p).foreach(s => plans += ((p, s.startTimeMs, s.endTimeMs)))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Close one query execution whose events have all been delivered.
    * `bounds` are the epoch-ms instants before construction, between
    * construction and `save()`, and after `save()`. */
  def finish(exec: String, query: String, bounds: (Double, Double, Double),
             extra: Map[String, Double]): QueryTrace = synchronized {
    val (c0, c1, c2) = bounds
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, layer: String, name: String, s: Double, e: Double): Int = {
      spans += Span(spans.size, parent, exec, layer, name, s, e); spans.size - 1
    }
    val root = span(-1, "query", query, c0, c2)
    val phaseSpan = Map(
      "construct" -> span(root, "construct", query, c0, c1),
      "exec" -> span(root, "exec", query, c1, c2))
    val m = acc.remove(exec).getOrElse(mutable.Map.empty[String, Double])

    // plan phases: those that started inside save() belong to the write
    val (execPlans, constructPlans) = plans.partition(_._2 >= c1.toLong)
    plans.clear()
    constructPlans.foreach { case (p, s, e) => span(phaseSpan("construct"), "plan", p, s, e) }
    execPlans.foreach { case (p, s, e) =>
      span(phaseSpan("exec"), "plan", p, s, e)
      m(s"plans.${p}_s") = m.getOrElse(s"plans.${p}_s", 0.0) + (e - s) / 1e3
    }

    val myJobs = jobs.values.filter(_.exec == exec).toSeq.sortBy(_.id)
    val jobSpan = myJobs.map { j =>
      j.id -> span(phaseSpan.getOrElse(j.phase, phaseSpan("exec")), "job", s"job ${j.id}",
        j.startMs, j.endMs)
    }.toMap
    val (myStages, skipped) = stages.values.filter(_.job.exec == exec).toSeq.sortBy(_.id)
      .partition(_.ran)
    myStages.foreach(s => span(jobSpan(s.job.id), "stage", s"stage ${s.id} ${s.module}",
      s.startMs, s.endMs))
    myJobs.foreach(j => jobs.remove(j.id))
    (myStages ++ skipped).foreach(s => stages.remove(s.id))

    m("SparkEntry.construct_s") = (c1 - c0) / 1e3
    m("SparkEntry.eager_jobs") = myJobs.count(_.phase == "construct").toDouble
    m("exec.run_s") = (c2 - c1) / 1e3
    m("scheduler.jobs") = myJobs.size.toDouble
    m("scheduler.stages") = myStages.size.toDouble
    m("scheduler.driver_gap_s") =
      ((c2 - c0) - covered(c0, c2, myJobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)))) / 1e3
    m("scheduler.task_skew") = (myStages.map(_.taskMs.sorted).collect {
      case t if t.size >= 2 && t(t.size / 2) > 0 => t.last.toDouble / t(t.size / 2)
    } :+ 1.0).max

    // cache: high-water of the RDD blocks this execution stored, and their
    // number (blocks left from earlier executions are not counted)
    val blocks = cache.results.filter(b => b.blockId.startsWith("rdd_") &&
      b.cacheTime >= c0 && b.cacheTime <= c2)
    val events = blocks.flatMap { b =>
      Seq((b.cacheTime.toDouble, b.bytes.toDouble)) ++
        (if (b.freeTime >= 0) Seq((b.freeTime.toDouble, -b.bytes.toDouble)) else Nil)
    }.sortBy(_._1)
    m("cache.peak_mb") = events.scanLeft(0.0)(_ + _._2).max / Mb
    m("cache.blocks") = blocks.size.toDouble
    extra.foreach { case (k, v) => m(k) = v }
    QueryTrace(exec, query, m.toMap, spans.toSeq)
  }
}

object Tracer {
  val ExecKey = "perfbench.exec"
  val PhaseKey = "perfbench.phase"
  val Mb: Double = 1024.0 * 1024.0
  val Modules = Set("operators", "api", "streaming", "sources")

  /** A stage belongs to the graft module of its innermost user frame
    * (the first call-site frame outside Spark, Scala and the JDK);
    * anything else — the benchmark driver, `graft.SparkEntry`, Spark's
    * own threads — is plain query execution. */
  def moduleOf(details: String): String =
    Option(details).toSeq.flatMap(_.linesIterator)
      .find(l => !Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(l.startsWith))
      .collect { case l if l.startsWith("graft.") => l.split('.')(1) }
      .filter(Modules).getOrElse("exec")

  /** Length of the union of `iv` clipped to [s, e]. */
  def covered(s: Double, e: Double, iv: Seq[(Double, Double)]): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, end = 0.0
    var start = Double.NaN
    clipped.foreach { case (a, b) =>
      if (start.isNaN || a > end) { if (!start.isNaN) total += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    if (start.isNaN) 0.0 else total + end - start
  }

  final case class Span(id: Int, parent: Int, exec: String, layer: String, name: String,
                        startMs: Double, endMs: Double)
  final case class QueryTrace(exec: String, query: String, metrics: Map[String, Double],
                              spans: Seq[Span])

  /** Per-layer self time: each span's duration minus the part of it its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer) { sp =>
      val ch = kids.getOrElse(sp.id, Nil).map(c => (c.startMs, c.endMs))
      (sp.endMs - sp.startMs - covered(sp.startMs, sp.endMs, ch)) / 1e3
    }(_ + _)
  }
}
