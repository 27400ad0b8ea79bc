package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The entry-list workloads: one client issuing every entry of the
  * workload in a seeded order, pass after pass (closed loop).
  */
object Batch {
  /** Nominal seconds per pass: `--seconds` buys one pass per this much. */
  val NominalPassSeconds = 3.0

  def run(spark: SparkSession, a: Main.Args, record: mutable.Map[String, Any]): Unit = {
    val names = Main.entries(a.workload)
    val queries = SparkEntry.queries
    def call(n: String) = () => queries(n)(spark, a.data)
    val tracer = new Tracer(spark)
    val runner = new Main.Runner(spark, tracer)

    // three untimed warm passes: the first writes the outputs the Python
    // side checks; the other two let the JIT compile the hot paths (after a
    // single warm pass the next pass ran about 40 % slower than later ones)
    val warm0 = Main.nowMs
    Main.shuffled(names, a.seed, -1).foreach(n =>
      runner(n, -1, call(n), Main.parquetTo(s"${a.out}/warm/$n")))
    for (w <- Seq(-3, -4)) Main.shuffled(names, a.seed, w).foreach(n => runner(n, w, call(n), Main.noop))
    record("setup_s") = Main.setupSeconds(record, Main.nowMs - warm0)
    // bound after the warm pass: trained-model oracles exist only once run
    val oracles = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    record("oracle_sql") = oracles

    // traced runs interleave traced (odd) and untraced (even) passes, so
    // the warm-up trend over passes does not bias the overhead figure
    val passes = math.max(if (a.trace) 3 else 1, math.round(a.seconds / NominalPassSeconds).toInt)
    val base = Layers.Base()
    val region = Region.measure(tracer, runner, passes, p => a.trace && p % 2 == 1)(pass = p =>
      Main.shuffled(names, a.seed, p).foreach(n => runner(n, p, call(n), Main.noop)))
    record("region") = Region.json(region)
    if (a.trace) {
      record("layers") = Layers.of(region, tracer, base, a.cores) ++
        Map("harness.trace_overhead_pct" -> Region.overheadPct(region)) ++ Kernels.run(spark, a)
      record("spans") = Layers.spanSelf(region, tracer)
      record("entries") = Layers.perEntry(region, tracer)
    }
    // rows-only entries run once more; the Python side requires the same hash
    names.filterNot(oracles.contains).foreach(n =>
      runner(n, -2, call(n), Main.parquetTo(s"${a.out}/check/$n")))
    tracer.stop()
    record("requests") = runner.reqs.map(Main.reqJson)
  }
}
