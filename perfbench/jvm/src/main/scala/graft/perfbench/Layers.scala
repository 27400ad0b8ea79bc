package graft.perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The per-layer table of a traced region, per pass of the workload. */
object Layers {
  /** Driver-side counters read at the start of the traced region. */
  final case class Base(compileNs: Long = CodeGenerator.compileTime,
                        compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Length of the union of `spans` clipped to [lo, hi]. */
  def covered(spans: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var end = lo
    var sum = 0d
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { sum += e - math.max(s, end); end = e }
      }
    sum
  }

  /** Per traced pass; the codegen counters are global, so per pass of the region. */
  def of(r: Region, t: Tracer, base: Base, cores: Int): Map[String, Double] = {
    t.drain()
    val tasks = Tracer.taskList(t)
    val jobs = Tracer.jobList(t)
    val reqs = r.tracedReqs
    val p = r.tracedPasses.toDouble
    val mb = 1e6
    def sum(f: TaskRec => Double) = tasks.map(f).sum
    val jobsByReq = jobs.groupBy(_.req)
    val driverOnly = reqs.map { q =>
      q.ms - covered(jobsByReq.getOrElse(q.id, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble)),
        q.startMs, q.endMs)
    }.sum
    val cpuMs = sum(_.cpuNs / 1e6)
    val runMs = sum(_.runMs.toDouble)
    val skew = tasks.groupBy(_.stage).values.filter(_.size > 1).map { ts =>
      val runs = ts.map(_.runMs.toDouble).sorted
      runs.last / math.max(1d, Main.median(runs))
    }.foldLeft(1d)(math.max)
    Map(
      "operators.build_ms" -> reqs.map(q => q.buildMs - q.startMs).sum / p,
      "operators.plan_ms" -> t.planNs.get / 1e6 / p,
      "operators.codegen_ms" -> (CodeGenerator.compileTime - base.compileNs) / 1e6 / r.traced.size,
      "operators.codegen_count" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - base.compiles).toDouble / r.traced.size,
      "operators.driver_only_ms" -> driverOnly / p,
      "operators.actions" -> t.actions.get / p,
      "operators.result_mb" -> sum(_.resultB.toDouble) / mb / p,
      "scheduler.jobs" -> jobs.size / p,
      "scheduler.stages" -> tasks.map(_.stage).distinct.size / p,
      "scheduler.tasks" -> tasks.size / p,
      "scheduler.delay_ms" -> sum(x => math.max(0L, x.durationMs - x.runMs - x.deserMs - x.resultSerMs -
        x.gettingResultMs).toDouble) / p,
      "scheduler.deserialize_ms" -> sum(_.deserMs.toDouble) / p,
      "executor.cpu_ms" -> cpuMs / p,
      "executor.run_ms" -> runMs / p,
      "executor.stall_ms" -> (runMs - cpuMs) / p,
      "executor.gc_ms" -> sum(_.gcMs.toDouble) / p,
      "executor.util" -> cpuMs / (r.wallsOf(true).sum * cores),
      "executor.skew" -> skew,
      "shuffle.write_mb" -> sum(_.shWriteB.toDouble) / mb / p,
      "shuffle.read_mb" -> sum(_.shReadB.toDouble) / mb / p,
      "shuffle.records" -> sum(_.shRecords.toDouble) / p,
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs.toDouble) / p,
      "shuffle.spill_mb" -> sum(_.spillB.toDouble) / mb / p,
      "tables.read_mb" -> sum(_.inB.toDouble) / mb / p,
      "tables.read_rows" -> sum(_.inRecs.toDouble) / p,
      "caches.tracked_peak" -> reqs.map(_.tracked).foldLeft(0)(math.max).toDouble,
      "caches.storage_peak_mb" -> reqs.map(_.storageB).foldLeft(0L)(math.max) / mb,
      "host.steal_ms" -> r.stealMs)
  }

  /** Self time per span kind, per pass: a span's duration minus the part
    * of it its children cover (request → build / action → job).
    */
  def spanSelf(r: Region, t: Tracer): Map[String, Double] = {
    val jobsByReq = Tracer.jobList(t).groupBy(_.req)
    val p = r.tracedPasses.toDouble
    var build, action, jobsMs = 0d
    r.tracedReqs.foreach { q =>
      val js = jobsByReq.getOrElse(q.id, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble))
      build += (q.buildMs - q.startMs) - covered(js, q.startMs, q.buildMs)
      action += (q.endMs - q.buildMs) - covered(js, q.buildMs, q.endMs)
      jobsMs += covered(js, q.startMs, q.endMs)
    }
    Map("build_self_ms" -> build / p, "action_self_ms" -> action / p, "job_ms" -> jobsMs / p)
  }

  /** Per entry (or ingest read / day) over the traced passes: median
    * latency, and executor CPU, run, stall, jobs and tasks per request.
    */
  def perEntry(r: Region, t: Tracer): Map[String, Map[String, Double]] = {
    val tasksByReq = Tracer.taskList(t).groupBy(_.req)
    val jobsByReq = Tracer.jobList(t).groupBy(_.req)
    r.tracedReqs.groupBy(_.entry).map { case (e, qs) =>
      val n = qs.size.toDouble
      val ts = qs.flatMap(q => tasksByReq.getOrElse(q.id, Nil))
      val cpu = ts.map(_.cpuNs / 1e6).sum / n
      val run = ts.map(_.runMs.toDouble).sum / n
      e -> Map("ms" -> Main.median(qs.map(_.ms)), "cpu_ms" -> cpu, "run_ms" -> run, "stall_ms" -> (run - cpu),
        "jobs" -> qs.map(q => jobsByReq.getOrElse(q.id, Nil).size).sum / n, "tasks" -> ts.size / n)
    }
  }
}
