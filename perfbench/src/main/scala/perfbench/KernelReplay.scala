package perfbench

import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{BinaryClaSPSegmentation, ClaSP, KSubsequenceNeighbours, WindowSize}
import graft.pipeline.{CrawlSignals, Rollup}

/** Replays the segmentation kernel outside Spark, on a plain thread pool,
  * over exactly the series the chunked rollup feeds it.
  *
  * The series come from the unsegmented rollup's 1m rows: each url is cut
  * on the same chunk boundaries the rollup's first phase uses and trimmed
  * to the chunk's first and last observed bucket, which reproduces that
  * phase's gap-filled mean series bit for bit. Each series is segmented
  * once through [[Rollup.segmentEpochCps]] (the timed total), then its
  * top-level steps are timed again one by one with the parameters of a
  * default [[BinaryClaSPSegmentation]], the one the rollup runs: window
  * learning, the k-NN fit, the ensemble fit (which includes its own k-NN
  * fit) and the split validation. What the segmenter
  * spends beyond its top level — the recursive splits — is the remainder. */
object KernelReplay {

  // the segmenter the rollup runs, so the replay follows its parameters
  private val Seg = new BinaryClaSPSegmentation()
  // BinaryClaSPSegmentation.fit's threshold when none is given, univariate
  private val Threshold =
    if (!Seg.thresholdIn.isNaN) Seg.thresholdIn
    else if (Seg.validation == "significance_test") 1e-15
    else 0.75

  /** `diverged`: the top-level split the replay found is not what the
    * segmenter returned (its first change point, or none at all), so the
    * replay no longer follows the engine and its step times mean nothing. */
  final case class SeriesTimes(points: Int, cps: Int, segmentNs: Long, sussNs: Long,
      knnNs: Long, ensembleNs: Long, validateNs: Long, diverged: Boolean)

  final case class Result(series: Int, points: Long, cps: Long, segmentS: Double,
      sussS: Double, knnS: Double, ensembleS: Double, validateS: Double, wallS: Double,
      diverged: Int) {
    def recurseS: Double = segmentS - sussS - ensembleS - validateS
    def nsPerPoint: Double = if (points == 0) 0.0 else segmentS * 1e9 / points
  }

  /** The rollup's phase-1 chunk series for `pages`. */
  def chunkSeries(spark: SparkSession, pages: DataFrame): Seq[Array[Double]] = {
    import spark.implicits._
    val chunkMs = 60000L * Rollup.MegaSeriesBuckets
    val rows = Rollup.scalableRollup(CrawlSignals.pageSize(pages), 60000L, "1m", segment = false)
      .toDF().select("url", "bucket_start", "cnt", "mean")
      .as[(String, Long, Long, Double)].collect()
    rows.groupBy(r => (r._1, Math.floorDiv(r._2, chunkMs))).values.toSeq.flatMap { chunk =>
      val sorted = chunk.sortBy(_._2)
      val first = sorted.indexWhere(_._3 > 0)
      val last = sorted.lastIndexWhere(_._3 > 0)
      if (first < 0) None else Some(sorted.slice(first, last + 1).map(_._4))
    }
  }

  private def time[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  private def replayOne(series: Array[Double]): SeriesTimes = {
    val (cps, segNs) = time(Rollup.segmentEpochCps(series))
    val n = series.length
    // Rollup's guards around the segmenter: short or constant series are
    // not segmented
    val degenerate = n < 60 || !(series.max - series.min > 0)
    if (degenerate) SeriesTimes(n, cps.length, segNs, 0L, 0L, 0L, 0L, diverged = cps.nonEmpty)
    else {
      val (w, sussNs) = time(
        if (Seg.windowSizeFixed > 0) Seg.windowSizeFixed
        else math.max(3, WindowSize.byName(Seg.windowSizeMethod)(series) / 2))
      val minSeg = w * Seg.exclRadius
      if (n < 2 * minSeg || n / minSeg <= 1)
        SeriesTimes(n, cps.length, segNs, sussNs, 0L, 0L, 0L, diverged = cps.nonEmpty)
      else {
        val ts = Array(series)
        val tcs = ClaSP.temporalConstraints(n, Seg.nEstimators, minSeg, Seg.randomState)
        val (_, knnNs) = time(new KSubsequenceNeighbours(w, Seg.kNeighbours, Seg.distanceName).fit(ts, tcs))
        val (model, ensNs) = time(ClaSP.fitEnsemble(ts, Seg.nEstimators, w, Seg.kNeighbours,
          Seg.distanceName, Seg.scoreName, Seg.earlyStopping, Seg.exclRadius, Seg.randomState,
          Seg.validation, Threshold))
        val (top, valNs) = time(model.split(Seg.validation, Threshold))
        // the segmenter keeps a top-level split at least one segment away from
        // both ends, and then always returns it
        val kept = top.filter(cp => cp >= minSeg && cp < n - minSeg)
        SeriesTimes(n, cps.length, segNs, sussNs, knnNs, ensNs, valNs,
          diverged = kept.fold(cps.nonEmpty)(cp => !cps.contains(cp)))
      }
    }
  }

  def run(series: Seq[Array[Double]], threads: Int, tracer: Tracer): Result = {
    val pool = Executors.newFixedThreadPool(threads)
    val parent = tracer.currentId
    val t0 = System.nanoTime()
    val times = try {
      // longest first, so the biggest series never start last
      val tasks = series.sortBy(-_.length).map { s =>
        new Callable[SeriesTimes] {
          def call(): SeriesTimes = tracer.spanUnder(parent, "kernel", s"series n=${s.length}")(replayOne(s))
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
    val wall = (System.nanoTime() - t0) / 1e9
    def s(f: SeriesTimes => Long) = times.map(f).sum / 1e9
    Result(times.size, times.map(_.points.toLong).sum, times.map(_.cps.toLong).sum,
      s(_.segmentNs), s(_.sussNs), s(_.knnNs), s(_.ensembleNs), s(_.validateNs), wall,
      times.count(_.diverged))
  }
}
