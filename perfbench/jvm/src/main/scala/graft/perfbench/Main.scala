package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry, Tables}
import graft.operators.Sizing

/** One request: an operator call plus full materialization. Times are
  * epoch milliseconds, so they line up with the listener's job stamps.
  */
final case class Req(id: String, entry: String, pass: Int, startMs: Double, buildMs: Double,
                     endMs: Double, err: String, tracked: Int, storageB: Long, cpuMs: Double) {
  def ms: Double = endMs - startMs
}

/** The benchmark's JVM side: builds the session from the deploy recipe,
  * runs one workload against the library's public entry points, and
  * writes a run record (`result.json`) and the outputs to check under
  * `--out`. The Python side (perfbench/run.py) checks the outputs and
  * prints the metrics.
  */
object Main {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Args(workload: String, data: String, out: String, seconds: Double,
                        trace: Boolean, seed: Long, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble, m("trace") == "1",
      m("seed").toLong, m("cores").toInt)
  }

  /** Session from the deploy recipe: `Sizing.clusterConf` plus the static
    * codegen-cache key SCALING.md lists beside it. Every path Spark writes
    * to stays under the run directory.
    */
  def session(a: Args, inputBytes: Long): (SparkSession, Map[String, String]) = {
    val conf = Sizing.clusterConf(inputBytes, a.cores) ++ Map(
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> new File(a.out, "warehouse").getAbsolutePath,
      "spark.local.dir" -> new File(a.out, "local").getAbsolutePath,
      "spark.sql.streaming.checkpointLocation" -> new File(a.out, "checkpoints").getAbsolutePath)
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("graft-perfbench")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, conf)
  }

  def inputBytes(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.length).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0d else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  // --- workload definitions ------------------------------------------------

  /** Entries of each batch workload (names in `SparkEntry.queries`). A run
    * must fit the per-run budget (about a minute on 4 cores, set-up
    * included), so each workload is a fixed sample of its side of the
    * registry: one entry per distinct operator family, plus the four
    * entries behind the r12 anomalies (q_recommend, d_dedup_exact,
    * m_audio_decode, v_knn_join_geo). Corpus has an odd number of entries,
    * so the median request falls inside one entry's latencies rather than
    * in the gap between the faster and the slower half.
    */
  val Entries: Map[String, Seq[String]] = Map(
    // events/orders/lineitem endpoints and one events-side streaming twin:
    // userData rollup, star join, self-join matrix, weekly attrition, top-k
    // recommendation, lineitem highlights, sessionization
    "dashboard" -> Seq("q_user_video_rollup", "q_hours_total", "q_common_users_matrix", "q_attrition",
      "q_recommend", "q_funniest_offsets", "s_stream_sessionize"),
    // the training-data corpus, documents and their embeddings: text
    // rules, character entropy, exact and minhash dedup, a media decode,
    // the geometry-blocked kNN join and IVF-PQ search
    "corpus" -> Seq("t_gopher_rules", "t_char_entropy", "d_dedup_exact", "d_dedup_minhash",
      "m_audio_decode", "v_knn_join_geo", "v_ann_ivfpq"))

  def entries(workload: String): Seq[String] = {
    val names = Entries.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"entries not in SparkEntry.queries: ${missing.mkString(", ")}")
    names
  }

  // --- request execution ---------------------------------------------------

  final class Runner(spark: SparkSession, tracer: Tracer) {
    private var n = 0
    val reqs = mutable.ArrayBuffer.empty[Req]

    /** Runs one request; its executor CPU is read and `Caches.release()`
      * runs outside its time.
      */
    def apply(entry: String, pass: Int, build: () => DataFrame, sink: DataFrame => Unit): Req = {
      val sc = spark.sparkContext
      tracer.drain()
      val cpu0 = tracer.cpuNs.get
      n += 1
      val id = s"$entry#$n"
      sc.setLocalProperty(Tracer.RequestKey, id)
      val t0 = nowMs
      var tb = t0
      var err: String = null
      try {
        val df = build()
        tb = nowMs
        sink(df)
      } catch {
        case e: Throwable => err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      val t1 = nowMs
      sc.setLocalProperty(Tracer.RequestKey, null)
      val tracked = Caches.trackedCount
      val storage = if (tracer.full) sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum else 0L
      Caches.release()
      tracer.drain()
      val r = Req(id, entry, pass, t0, tb, t1, err, tracked, storage, (tracer.cpuNs.get - cpu0) / 1e6)
      reqs += r
      r
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def parquetTo(path: String)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(path)

  // --- main ----------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val bytes = inputBytes(a.data)
    val (spark, conf) = session(a, bytes)
    val sessionReady = nowMs
    // table and extension registration, footers included (every reader
    // resolves its schema); repeated so the setup figure is a median
    val regMs = (0 until 3).map { _ =>
      val t = nowMs
      Tables.registerAll(spark, a.data)
      nowMs - t
    }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "input_bytes" -> bytes,
      "conf" -> conf, "session_s" -> (sessionReady - jvmStart) / 1000, "register_s" -> median(regMs) / 1000)
    val result = try {
      if (a.workload == "ingest") Ingest.run(spark, a, record)
      else Batch.run(spark, a, record)
      record
    } finally spark.stop()
    Files.writeString(Paths.get(a.out, "result.json"), Json(result))
  }

  /** Setup seconds: process start to session, the median registration, and
    * the warm pass.
    */
  def setupSeconds(record: mutable.Map[String, Any], warmMs: Double): Double =
    record("session_s").asInstanceOf[Double] + record("register_s").asInstanceOf[Double] + warmMs / 1000

  def reqJson(r: Req): Map[String, Any] =
    Map("entry" -> r.entry, "pass" -> r.pass, "ms" -> r.ms,
      "start_ms" -> r.startMs, "end_ms" -> r.endMs, "cpu_ms" -> r.cpuMs,
      "err" -> Option(r.err))

  def shuffled(xs: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(xs)
}

/** A timed region of a fixed number of passes. Passes for which `traced`
  * holds run with the full tracer on; the others keep only the counters
  * the end-to-end metrics need.
  */
final case class Region(passWallMs: Seq[Double], passCpuMs: Seq[Double], passShuffleB: Seq[Double],
                        traced: Seq[Boolean], peakHeapB: Long, stealMs: Double, reqs: Seq[Req]) {
  def tracedReqs: Seq[Req] = reqs.filter(q => traced(q.pass))
  def tracedPasses: Int = traced.count(identity)
  def wallsOf(t: Boolean): Seq[Double] = passWallMs.zip(traced).collect { case (w, `t`) => w }
}

object Region {
  def measure(tracer: Tracer, runner: Main.Runner, passes: Int, traced: Int => Boolean)(
      wait: Int => Unit = _ => (), pass: Int => Unit): Region = {
    val steal0 = Steal.ticks()
    val first = runner.reqs.size
    val walls, cpus, shuffle = mutable.ArrayBuffer.empty[Double]
    var peakHeap = 0L
    for (p <- 0 until passes) {
      wait(p)
      tracer.drain()
      tracer.full = traced(p)
      val c0 = tracer.cpuNs.get
      val s0 = tracer.shWriteB.get
      val w0 = Main.nowMs
      pass(p)
      walls += Main.nowMs - w0
      tracer.drain()
      tracer.full = false
      cpus += (tracer.cpuNs.get - c0) / 1e6
      shuffle += (tracer.shWriteB.get - s0).toDouble
      peakHeap = math.max(peakHeap, liveHeapBytes())
    }
    Region(walls.toSeq, cpus.toSeq, shuffle.toSeq, (0 until passes).map(traced), peakHeap,
      Steal.ms(steal0), runner.reqs.drop(first).toSeq)
  }

  /** Heap occupancy right after a full collection. Two collections with a
    * pause between them: the first makes released broadcasts and shuffles
    * unreachable, Spark's ContextCleaner then drops their blocks, and the
    * second collects those. (A young collection's figure includes dead
    * objects still in the old generation, so it is not used.)
    */
  def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def json(r: Region): Map[String, Any] = Map(
    "pass_wall_ms" -> r.passWallMs, "pass_cpu_ms" -> r.passCpuMs, "pass_shuffle_write_b" -> r.passShuffleB,
    "traced" -> r.traced, "peak_heap_b" -> r.peakHeapB, "steal_ms" -> r.stealMs)

  /** Traced over untraced median pass wall, as a percentage. */
  def overheadPct(r: Region): Double =
    (Main.median(r.wallsOf(true)) / Main.median(r.wallsOf(false)) - 1) * 100
}
