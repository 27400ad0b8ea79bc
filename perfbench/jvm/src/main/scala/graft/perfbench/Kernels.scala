package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._
import graft.ml.{BpeTokenizer, NeuralForecaster, QualityClassifier}

/** Off-Spark timings of the `graft.functions` kernels (ns per row) and the
  * `graft.ml` trainers (ms), on one thread, over rows sampled from the
  * workload's own inputs. The corpus workload times them all; on the
  * others they are reported as 0 (n/a).
  */
object Kernels {
  private val Rows = 256

  /** ns per row of `f` over `rows`, after one warm-up sweep, over at least 200 ms. */
  def nsPerRow[A](rows: IndexedSeq[A])(f: A => Any): Double = {
    var sink = 0
    def sweep(): Unit = { var i = 0; while (i < rows.length) { if (f(rows(i)) != null) sink += 1; i += 1 } }
    sweep()
    var reps = 0
    val t0 = System.nanoTime()
    while (reps < 3 || System.nanoTime() - t0 < 200000000L) { sweep(); reps += 1 }
    val ns = (System.nanoTime() - t0).toDouble / (reps.toLong * rows.length)
    if (sink < 0) println(sink)
    ns
  }

  def ms(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  private def words(text: String): ArrayData =
    new GenericArrayData(text.toLowerCase.trim.split("\\s+").map(w => UTF8String.fromString(w): AnyRef))

  val text = Seq("functions.shingle_ids_ns", "functions.simhash_ns", "functions.char_entropy_ns",
    "functions.token_gram_ns", "functions.gram_bucket_ns", "functions.sorted_filter_ns",
    "functions.bpe_encode_ns", "ml.bpe_train_ms", "ml.quality_train_ms")
  val vector = Seq("functions.pq_encode_ns", "functions.pq_residual_ns", "functions.rotate_ns",
    "functions.nearest_centroid_ns", "functions.top_probes_ns")
  val forecast = Seq("ml.forecast_fit_ms")

  def run(spark: SparkSession, a: Main.Args): Map[String, Double] = {
    val measured = a.workload match {
      case "corpus" => corpus(spark, a.data) ++ vectors(spark, a.data) ++ forecast(spark, a.data)
      case _ => Map.empty[String, Double]
    }
    (text ++ vector ++ forecast).map(k => k -> measured.getOrElse(k, 0d)).toMap
  }

  def corpus(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = graft.Tables.documents(spark, dir).select("text", "lang").orderBy("doc_id").limit(Rows)
      .collect().map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    val texts = docs.map(_._1)
    val ws = texts.map(words)
    val shingles = ws.map(w => ShingleIds.compute(w, 3, true))
    val hot = shingles.flatMap(s => s.toLongArray().take(4)).distinct.sorted.toArray
    val merges = BpeTokenizer.train(texts, 64)
    val ranks = BpeTokenizer.ranksOf(merges)
    val utf = texts.map(UTF8String.fromString)
    Map(
      "functions.shingle_ids_ns" -> nsPerRow(ws)(w => ShingleIds.compute(w, 3, true)),
      "functions.simhash_ns" -> nsPerRow(ws)(w => SimhashBits.compute(w)),
      "functions.char_entropy_ns" -> nsPerRow(utf)(t => CharEntropyStats.compute(t)),
      "functions.token_gram_ns" -> nsPerRow(ws)(w => TokenGramCounts.compute(w, 2)),
      "functions.gram_bucket_ns" -> nsPerRow(ws)(w => GramBucketCounts.compute(w, 1024)),
      "functions.sorted_filter_ns" -> nsPerRow(shingles)(s => HashFunctions.sortedFilterKernel(s, hot, false)),
      "functions.bpe_encode_ns" -> nsPerRow(utf)(t => BpeEncode.compute(t, ranks)),
      "ml.bpe_train_ms" -> ms(BpeTokenizer.train(texts, 64)),
      "ml.quality_train_ms" -> ms(QualityClassifier.train(
        docs.map { case (t, l) => (t, if (l == "en") 1d else 0d) }, 1024)))
  }

  def vectors(spark: SparkSession, dir: String): Map[String, Double] = {
    val dim = 64
    val vs = graft.Tables.embeddings(spark, dir).select("embedding").orderBy("vec_id").limit(Rows)
      .collect().map(r => r.getSeq[Float](0).toArray).toIndexedSeq
    val arrs: IndexedSeq[ArrayData] = vs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val rnd = new scala.util.Random(7)
    // codebooks and centroids drawn from the sample itself, as training would
    val m = 8; val k = 16; val sub = dim / m
    val cb = Array.tabulate(m * k * sub) { i =>
      val s = i / (k * sub); val c = (i / sub) % k; val j = i % sub
      vs(c % vs.size)(s * sub + j).toDouble }
    val cn = Array.tabulate(m * k)(sc => (0 until sub).map(j => cb(sc * sub + j) * cb(sc * sub + j)).sum)
    val codes = arrs.map(v => PqEncode.compute(v, true, dim, m, k, cb, cn))
    val pairs = arrs.zip(codes)
    val rot = Array.tabulate(dim * dim)(_ => rnd.nextGaussian() / 8)
    val nC = 32
    val cent = Array.tabulate(nC * dim)(i => vs((i / dim) % vs.size)(i % dim).toDouble)
    val bundle = CentroidBundle.build(cent, dim, Array.tabulate(nC)(identity))
    Map(
      "functions.pq_encode_ns" -> nsPerRow(arrs)(v => PqEncode.compute(v, true, dim, m, k, cb, cn)),
      "functions.pq_residual_ns" -> nsPerRow(pairs) { case (v, c) => PqResidual.compute(v, c, true, dim, m, k, cb) },
      "functions.rotate_ns" -> nsPerRow(arrs)(v => RotateVec.compute(v, true, dim, rot)),
      "functions.nearest_centroid_ns" -> nsPerRow(arrs)(v =>
        NearestCentroid.compute(v, true, dim, bundle.n, bundle.cent, bundle.norm2, bundle.index)),
      "functions.top_probes_ns" -> nsPerRow(arrs)(v =>
        ProbeKernel.topProbes(v, true, dim, bundle.n, bundle.labels, bundle.cent, bundle.norm2, 4, bundle.index)))
  }

  /** One channel's adaptive forecaster fit at the dashboard entry's config. */
  def forecast(spark: SparkSession, dir: String): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val points = graft.Tables.orders(spark, dir).filter(col("o_custkey") === 1L)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg(sum(col("o_totalprice")).as("h")).orderBy("m").collect()
      .map(r => (r.getInt(0), r.getDouble(1) / 1000)).toSeq
    val fit = (0 until 3).map(_ => ms(NeuralForecaster.forecastChannel("c1", points, hidden = 32, epochs = 40)))
    Map("ml.forecast_fit_ms" -> Main.median(fit))
  }
}
