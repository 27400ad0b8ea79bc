package graft.perfbench

import java.sql.{Date, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ChatStats, EventSemantics}
import graft.sources.RollupWarehouse
import graft.streaming.RollupStream

final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                          value: Double, props: String)

/** The ingest workload: bootstrap the warehouse MVs from the first days of
  * the events, then apply each later day on a fixed schedule (open loop,
  * one thread) through the three MV refreshes and one `RollupStream`
  * micro-batch, and after each day issue the warehouse reads.
  */
object Ingest {
  val BootstrapDays = 6
  /** Untimed days applied after the bootstrap. A day's refresh time falls
    * by about a third from the first day to the second, as the JIT compiles
    * the refresh, stream and read paths; later days change by about a tenth.
    */
  val WarmDays = 2
  /** Share of `--seconds` over which the timed days fall due; the last
    * day's busy time fills the rest of the region.
    */
  val DueSpan = 0.75
  /** Buckets per MV table: one per shuffle partition of the deploy conf. */
  def buckets(spark: SparkSession): Int = spark.conf.get("spark.sql.shuffle.partitions").toInt
  val StreamName = "graft_rollup_stream"

  /** Bytes written through the local Hadoop filesystem so far. */
  def fsBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)

  def run(spark: SparkSession, a: Main.Args, record: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = Main.nowMs
    val events = Tables.events(spark, a.data)
    val day = to_date(col("ts"))
    val days = events.select(day.as("d")).distinct().orderBy("d").collect().map(_.getDate(0)).toSeq
    val deltaDays = days.drop(BootstrapDays)
    val rows = events.count().toDouble
    val eventsBytes = new java.io.File(a.data, "events.parquet").length.toDouble
    val users = events.agg(max("user_id")).head().getLong(0) + 1
    val rnd = new scala.util.Random(a.seed)
    val warehouse = new java.io.File(a.out, "warehouse")

    // bootstrap, stream start and one warm day are set-up
    val boot = events.filter(day < lit(deltaDays.head))
    val nb = buckets(spark)
    RollupWarehouse.bootstrap(boot, buckets = nb)
    RollupWarehouse.bootstrapUserData(boot, buckets = nb)
    RollupWarehouse.bootstrapSketches(boot, buckets = nb)
    val stream = MemoryStream[EventRow]
    val query = RollupStream.maintained(stream.toDF()).writeStream.format("memory")
      .queryName(StreamName).outputMode("complete").start()
    stream.addData(boot.as[EventRow].collect().toSeq)
    query.processAllAvailable()
    val tracer = new Tracer(spark)
    val runner = new Main.Runner(spark, tracer)
    /** The dashboard reads issued after each day. */
    def readSet(cycle: Int, d: Date): Unit = {
      val week = d.toLocalDate.`with`(java.time.DayOfWeek.MONDAY).toString
      val user = (rnd.nextDouble() * users).toLong
      Seq[(String, () => DataFrame)](
        "attrition" -> (() => RollupWarehouse.attrition(spark)),
        "commonUsersMatrix" -> (() => RollupWarehouse.commonUsersMatrix(spark)),
        "membershipCounts" -> (() => RollupWarehouse.membershipCounts(spark, week)),
        "recommend" -> (() => RollupWarehouse.recommend(spark, userId = user))
      ).foreach { case (n, f) => runner(n, cycle, f, Main.noop) }
    }
    val deltas = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** Applies one day through the three MV refreshes and the stream, then
      * issues the reads; `due` is when the schedule wanted the day applied.
      */
    def applyDay(traced: Boolean, cycle: Int, d: Date, due: Double): Unit = {
      val begin = Main.nowMs
      val delta = events.filter(day === lit(d))
      var err: String = null
      val b0 = fsBytesWritten()
      var refreshMs = 0d
      try {
        refreshMs = Kernels.ms {
          RollupWarehouse.refresh(spark, delta, buckets = nb)
          RollupWarehouse.refreshUserData(spark, delta, buckets = nb)
          RollupWarehouse.refreshSketches(spark, delta, buckets = nb)
        }
        stream.addData(delta.as[EventRow].collect().toSeq)
        query.processAllAvailable()
      } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val visible = Main.nowMs
      val written = files(warehouse).count(f => f.lastModified >= begin.toLong - 1000)
      val progress = Option(query.lastProgress)
      val dRows = delta.count().toDouble
      deltas += Map("day" -> d.toString, "cycle" -> cycle, "lag_ms" -> (begin - due),
        "freshness_ms" -> (visible - due), "refresh_ms" -> refreshMs,
        "write_b" -> (fsBytesWritten() - b0), "files_written" -> written, "delta_b" -> eventsBytes * dRows / rows,
        "batch_ms" -> progress.map(_.durationMs.get("triggerExecution").toDouble).getOrElse(0d),
        "commit_ms" -> progress.map(p => Seq("commitOffsets", "walCommit")
          .flatMap(k => Option(p.durationMs.get(k))).map(_.toDouble).sum).getOrElse(0d),
        "state_rows" -> progress.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0d),
        "state_b" -> progress.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0d),
        "traced" -> traced, "err" -> Option(err))
      readSet(cycle, d)
    }
    // untimed days warm the refresh, stream and read paths
    deltaDays.take(WarmDays).foreach(d => applyDay(traced = false, -1, d, Main.nowMs))
    val timedDays = deltaDays.drop(WarmDays)
    require(timedDays.nonEmpty, s"need more than ${BootstrapDays + WarmDays} days of events")
    record("setup_s") = Main.setupSeconds(record, Main.nowMs - t0)

    // the timed days, due evenly over DueSpan of `seconds` (open loop);
    // traced runs trace the odd days
    val interval = if (timedDays.size > 1) a.seconds * 1000 * DueSpan / (timedDays.size - 1) else 0d
    var start = 0d
    val base = Layers.Base()
    val region = Region.measure(tracer, runner, timedDays.size, p => a.trace && p % 2 == 1)(
      wait = p => {
        if (p == 0) start = Main.nowMs
        val due = start + p * interval
        while (Main.nowMs < due) Thread.sleep(math.max(1L, (due - Main.nowMs).toLong))
      },
      pass = p => applyDay(tracer.full, p, timedDays(p), start + p * interval))
    record("region") = Region.json(region)
    if (a.trace) {
      record("layers") = Layers.of(region, tracer, base, a.cores) ++
        Map("harness.trace_overhead_pct" -> Region.overheadPct(region)) ++ Kernels.run(spark, a)
      record("spans") = Layers.spanSelf(region, tracer)
      record("entries") = Layers.perEntry(region, tracer)
    }
    tracer.stop()

    // after the last delta: every maintained MV must equal a full-scan
    // build, compared by row count and an order-insensitive hash sum
    val all = events.filter(day <= lit(deltaDays.last))
    def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    def same(maintained: DataFrame, full: DataFrame): Boolean =
      digest(maintained, full.columns.toSeq) == digest(full, full.columns.toSeq)
    def estimates(df: DataFrame) = df.select(col("channel"), col("week"), hll_sketch_estimate(col("sk")).as("est"))
    record("mv_checks") = Map(
      "weekly_activity" -> same(spark.table(RollupWarehouse.Table), EventSemantics.userWeeklyActivity(all)),
      "user_data" -> same(spark.table(RollupWarehouse.UserDataTable), EventSemantics.userData(all)),
      "sketches" -> same(estimates(spark.table(RollupWarehouse.SketchTable)), estimates(ChatStats.sketchRollup(all))),
      "stream_rollup" -> same(spark.table(StreamName), EventSemantics.userWeeklyActivity(all)))
    query.stop()
    // output rows of one read set, for the traced table's rows per output row
    if (a.trace) record("read_rows") = Seq(RollupWarehouse.attrition(spark),
      RollupWarehouse.commonUsersMatrix(spark),
      RollupWarehouse.membershipCounts(spark, deltaDays.last.toLocalDate.`with`(java.time.DayOfWeek.MONDAY).toString),
      RollupWarehouse.recommend(spark, userId = 3L)).map(_.count()).sum
    record("warehouse_b") = files(warehouse).map(_.length).sum
    record("ingested_b") = eventsBytes * all.count() / rows
    record("deltas") = deltas.toSeq
    record("requests") = runner.reqs.map(Main.reqJson)
  }
}
