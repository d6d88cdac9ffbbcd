package graft.pipeline

import org.apache.spark.sql.Dataset

/** The single-phase rollup: one task per url buckets, gap-fills and
  * ClaSP-segments that url's whole raw series. An independent copy of the
  * per-url stage that RollupPipelineSpec checks the chunked two-phase path
  * ([[Rollup.scalableRollup]] / [[Rollup.scalableRollupAllTiers]]) against;
  * it shares only [[Rollup.segmentCps]] and [[Rollup.kernelTiers]] with
  * production. */
object RollupReference {
  import Rollup._

  /** Per-url kernel: bucket + gap-fill at `bucketMs`, ClaSP-segment the
    * gap-filled mean series into epochs, emit one RollupRow per bucket.
    * Runs entirely inside one task (per-series locality — SURVEY.md §2.3). */
  def kernelRollup(
      url: String,
      ptsIn: Iterator[(Long, Double)],
      bucketMs: Long,
      tier: String,
      segment: Boolean): Array[RollupRow] = {
    val pts = ptsIn.toArray
    if (pts.isEmpty) return Array.empty
    java.util.Arrays.sort(pts, Ordering.by[(Long, Double), (Long, Double)](identity))

    val first = Math.floorDiv(pts.head._1, bucketMs)
    val last = Math.floorDiv(pts.last._1, bucketMs)
    val nB = (last - first + 1).toInt
    require(nB > 0 && nB < (1 << 28), s"url=$url buckets=$nB out of range")

    val cnt = new Array[Long](nB)
    val sum = new Array[Double](nB)
    val mn = Array.fill(nB)(Double.PositiveInfinity)
    val mx = Array.fill(nB)(Double.NegativeInfinity)
    var i = 0
    while (i < pts.length) {
      val b = (Math.floorDiv(pts(i)._1, bucketMs) - first).toInt
      val v = pts(i)._2
      cnt(b) += 1; sum(b) += v
      if (v < mn(b)) mn(b) = v
      if (v > mx(b)) mx(b) = v
      i += 1
    }

    // gap-fill: locf mean (first bucket always has data by construction)
    val mean = new Array[Double](nB)
    var lastMean = 0.0
    i = 0
    while (i < nB) {
      if (cnt(i) > 0) lastMean = sum(i) / cnt(i)
      mean(i) = lastMean
      i += 1
    }

    val epochs: Array[Int] =
      if (!segment) Array.fill(nB)(-1)
      else segmentEpochs(mean)

    Array.tabulate(nB) { b =>
      val gap = cnt(b) == 0L
      RollupRow(url, tier, epochs(b), (first + b) * bucketMs,
        cnt(b), sum(b),
        if (gap) mean(b) else mn(b),
        if (gap) mean(b) else mx(b),
        mean(b), gap)
    }
  }

  /** ClaSP change points over the bucket-mean series → dense epoch ids.
    * Mega-series go through the streaming ClaSS detector — O(ring) per point
    * instead of O(n²) total — mirroring the reference's own recommendation
    * for very large archives (`claspy/notebooks/streaming_time_series.ipynb`). */
  def segmentEpochs(series: Array[Double]): Array[Int] = {
    val n = series.length
    val cps = segmentCps(series)
    val epochs = new Array[Int](n)
    var e = 0; var next = 0; var i = 0
    while (i < n) {
      if (next < cps.length && i == cps(next)) { e += 1; next += 1 }
      epochs(i) = e
      i += 1
    }
    epochs
  }

  /** Base-tier rollup with ClaSP-adaptive epochs: shuffle once on url
    * (groupByKey), run the kernel per series inside the task.
    *
    * SINGLE-PHASE reference path: one task materializes one url's raw
    * points, so a mega-series is an unbounded straggler. Retained as the
    * bit-equality oracle for the two-phase path (RollupPipelineSpec); every
    * production query and the resume pipeline use [[scalableRollup]] /
    * [[scalableRollupAllTiers]]. */
  def adaptiveRollup(
      points: Dataset[SeriesPoint],
      bucketMs: Long = 60000L,
      tier: String = "1m",
      segment: Boolean = true): Dataset[RollupRow] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .groupByKey(_.url)
      .flatMapGroups { (url, it) =>
        kernelRollup(url, it.map(p => (p.ts, p.value)), bucketMs, tier, segment).iterator
      }
  }

  /** Base + 1h + 1d tiers from ONE kernel pass per url (one shuffle total). */
  def adaptiveRollupAllTiers(
      points: Dataset[SeriesPoint],
      bucketMs: Long = 60000L,
      segment: Boolean = true): Dataset[RollupRow] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .groupByKey(_.url)
      .flatMapGroups { (url, it) =>
        val r1m = kernelRollup(url, it.map(p => (p.ts, p.value)), bucketMs, "1m", segment)
        (r1m.iterator ++ kernelTiers(r1m, "1h").iterator ++ kernelTiers(r1m, "1d").iterator)
      }
  }
}
