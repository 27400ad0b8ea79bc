package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, reduced to the fields the per-layer table uses. */
final case class TaskRec(stage: Int, req: String, durationMs: Long, runMs: Long, cpuNs: Long,
                         deserMs: Long, resultSerMs: Long, gettingResultMs: Long, gcMs: Long,
                         shWriteB: Long, shReadB: Long, shRecords: Long, fetchWaitMs: Long,
                         spillB: Long, inB: Long, inRecs: Long, resultB: Long)

/** A job span, in epoch milliseconds as the listener events stamp it. */
final case class JobRec(id: Int, req: String, startMs: Long, endMs: Long)

/** Spark-side counters. Untraced, it keeps only executor CPU and shuffle
  * write (the end-to-end metrics); while `full` is set it also keeps every
  * job and task with the request id that rides the `graft.bench.request`
  * local property, and the Catalyst planning phases of every action.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var full = false
  private val sc: SparkContext = spark.sparkContext
  val cpuNs = new AtomicLong
  val shWriteB = new AtomicLong
  val planNs = new AtomicLong
  val actions = new AtomicLong
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageReq = new ConcurrentHashMap[Int, String]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def reqOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.RequestKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
    val r = reqOf(e.properties)
    jobStart.put(e.jobId, (r, e.time))
    e.stageIds.foreach(stageReq.put(_, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) {
    val s = jobStart.remove(e.jobId)
    if (s != null) jobs.add(JobRec(e.jobId, s._1, s._2, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (full) {
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        tasks.add(TaskRec(e.stageId, stageReq.getOrDefault(e.stageId, ""), e.taskInfo.duration,
          m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
          m.resultSerializationTime, e.taskInfo.gettingResultTime, m.jvmGCTime,
          sw.bytesWritten, sr.totalBytesRead, sr.recordsRead, sr.fetchWaitTime,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.resultSize))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (full) {
    actions.incrementAndGet()
    planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (full) actions.incrementAndGet()

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = Bus.drain(sc)

  def stop(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  val RequestKey = "graft.bench.request"
  def taskList(t: Tracer): Seq[TaskRec] = t.tasks.asScala.toSeq
  def jobList(t: Tracer): Seq[JobRec] = t.jobs.asScala.toSeq
}

/** Host CPU steal from /proc/stat, in milliseconds (USER_HZ = 100). */
object Steal {
  def ticks(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).filter(_.length > 8)
        .map(_(8).toLong).getOrElse(0L)
    } finally src.close()
  } catch { case _: Exception => 0L }

  def ms(fromTicks: Long): Double = (ticks() - fromTicks) * 10.0
}
