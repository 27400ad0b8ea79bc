package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Vectors

/** Measurement main for the multi-probe kNN family at growing cell count
  * C (VERDICT r06 items 1 + 7): pins that the fused TopProbeLabels /
  * TopProbeLabelsHier expressions hold PLAN size (and with it analysis
  * time) flat in C, and that the mph hierarchy's wall-clock gap over flat
  * mp widens with C as designed. Emits one JSON line per C to stdout and
  * `probe_scale.json`. The committed artifact also carries the
  * `*_unrolled` columns of the one-literal-per-cell formulation, which
  * grew linearly in C; that formulation now exists only as the reference
  * in DedupVectorsSpec, so this main no longer measures it.
  *
  * Corpus: synthetic deterministic embeddings with C cells × `blockSize`
  * vectors per cell — block size FIXED so total rows grow with C exactly
  * like the scaled-labels deploy model (cell cardinality grows with the
  * corpus, block size stays flat). Vectors are per-cell directions plus
  * small per-vector perturbation, so probe ranking is non-trivial.
  */
object ProbeScale {

  private val DIM = 64

  private def gen(spark: SparkSession, cells: Int, blockSize: Int): DataFrame = {
    val comps = (0 until DIM).map { j =>
      (sin(col("label") * lit(0.37) + lit(j * 0.11))
        + sin(col("vec_id") * lit(0.0137) + lit(j * 0.23)) * lit(0.05))
        .cast("float")
    }
    spark.range(cells.toLong * blockSize)
      .select(col("id").as("vec_id"),
        (col("id") % cells).cast("int").as("label"))
      .withColumn("embedding", array(comps: _*))
  }

  /** (df-construction ms incl. the centroid-collect job, plan ms to the
    * executed plan) — the second number is the flat-vs-linear claim.
    */
  private def timePlan(build: => DataFrame): (Long, Long) = {
    val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan // force analysis + optimization + planning
    val t2 = System.nanoTime()
    ((t1 - t0) / 1000000, (t2 - t1) / 1000000)
  }

  private def timeRun(build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    build.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cellCounts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(100, 300, 1000)
    val blockSize = 100
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = cellCounts.map { c =>
      val emb = gen(spark, c, blockSize).cache()
      val rows = emb.count()
      // warm EVERY variant once so one-time analyzer/codegen/classloading
      // cost never lands in any variant's first timed build
      Vectors.knnJoinMultiProbe(emb, k = 5, nProbe = 2).queryExecution.executedPlan
      Vectors.knnJoinMultiProbeHier(emb, k = 5, nProbe = 2, superProbe = 2).queryExecution.executedPlan
      val (bExpr, pExpr) = timePlan(Vectors.knnJoinMultiProbe(emb, k = 5, nProbe = 2))
      val (bHier, pHier) = timePlan(Vectors.knnJoinMultiProbeHier(emb, k = 5, nProbe = 2, superProbe = 2))
      val runMp = timeRun(Vectors.knnJoinMultiProbe(emb, k = 5, nProbe = 2))
      val runMph = timeRun(Vectors.knnJoinMultiProbeHier(emb, k = 5, nProbe = 2, superProbe = 2))
      emb.unpersist()
      val line = s"""{"cells":$c,"rows":$rows,"block_size":$blockSize,""" +
        s""""plan_ms_expr":$pExpr,"plan_ms_hier_expr":$pHier,""" +
        s""""build_ms_expr":$bExpr,"build_ms_hier_expr":$bHier,""" +
        s""""run_s_mp":${Actions.fmt(runMp, 2)},"run_s_mph":${Actions.fmt(runMph, 2)}}"""
      println(line)
      line
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("probe_scale.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
