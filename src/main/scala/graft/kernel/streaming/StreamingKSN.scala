package graft.kernel.streaming

import graft.kernel.{ArgKMin, Distance, KSNModel, SlidingStats}

/** Streaming k-subsequence neighbours over a fixed-capacity ring of
  * `nTimepoints` points. Faithful port of
  * `/root/reference/claspy/streaming/nearest_neighbour.py`:
  * `_sliding_mean`/`_sliding_std` (:9-76 incl. the std<0→1 and |std|<1e-3→1
  * guards), `_roll_sliding_window` (:80-137), streaming `_knn` (:140-211,
  * O(n) dot roll + argkmin), `_roll_knns` (:214-280 retroactive kNN fixups),
  * `StreamingKSubsequenceNeighbours` (:326-434). Arrays are physically
  * shifted one slot per update like the reference's `roll_array`
  * (`claspy/utils.py:173-200`). */
final class StreamingKSN(
    val nTimepoints: Int = 10000,
    val windowSize: Int = 10,
    val kNeighbours: Int = 3,
    val distanceName: String = "znormed_euclidean_distance") extends Serializable {

  val exclusionRadius: Int = windowSize / 2
  val nWindows: Int = nTimepoints - windowSize + 1
  val knnInsertIdx: Int = nWindows - exclusionRadius - kNeighbours - 1
  private val dist = Distance.byName(distanceName)

  var lbound = 0
  var nFilled = 0
  var knnFilled = 0

  val timeSeries: Array[Double] = Array.fill(nTimepoints)(Double.NaN)
  val csum: Array[Double] = new Array[Double](nTimepoints + 1)
  val csumsq: Array[Double] = new Array[Double](nTimepoints + 1)
  val dcsum: Array[Double] = new Array[Double](nTimepoints + 1)
  val means: Array[Double] = Array.fill(nWindows)(Double.NaN)
  val stds: Array[Double] = Array.fill(nWindows)(Double.NaN)
  val dists: Array[Array[Double]] = Array.fill(nWindows)(Array.fill(kNeighbours)(Double.PositiveInfinity))
  val knns: Array[Array[Int]] = Array.fill(nWindows)(Array.fill(kNeighbours)(-1))
  var dotRolled: Array[Double] = null
  // scratch buffers reused across updates — a fresh O(nWindows) allocation
  // per point (~250 KB at the default ring) makes mega-series GC-bound
  @transient private lazy val distScratch = new Array[Double](nWindows)
  @transient private lazy val changeScratch = new Array[Boolean](nWindows)
  @transient private lazy val argsScratch = new Array[Int](kNeighbours)
  @transient private lazy val valsScratch = new Array[Double](kNeighbours)

  @inline private def rollLeft(a: Array[Double], fill: Double): Unit = {
    System.arraycopy(a, 1, a, 0, a.length - 1)
    a(a.length - 1) = fill
  }

  /** streaming/nearest_neighbour.py:63-76 */
  private def slidingStd(idx: Int): Double = {
    val wSum = csum(idx + windowSize) - csum(idx)
    val wSumSq = csumsq(idx + windowSize) - csumsq(idx)
    var movstd = wSumSq / windowSize - (wSum / windowSize) * (wSum / windowSize)
    if (movstd < 0) return 1.0
    movstd = math.sqrt(movstd)
    if (math.abs(movstd) < 1e-3) return 1.0
    movstd
  }

  /** One streaming ingest (streaming/nearest_neighbour.py:342-412). */
  def update(timepoint: Double, changePoint: Int = 0): this.type = {
    // before the first kNN fit the seed path writes dot products from
    // startIdx = knnInsertIdx + changePoint, so a nonzero changePoint would
    // index past nWindows; the segmentation driver only reports cps once
    // warm, making this unreachable from it — guard the public API anyway
    require(changePoint == 0 || knnFilled > 0,
      "changePoint must be 0 until the first kNN fit has run")
    lbound = knnInsertIdx - knnFilled + 1 + changePoint
    nFilled = math.min(nFilled + 1, nWindows)

    // _roll_sliding_window (:80-137)
    rollLeft(timeSeries, timepoint)
    rollLeft(csum, csum(nTimepoints) + timepoint)
    rollLeft(csumsq, csumsq(nTimepoints) + timepoint * timepoint)
    if (nFilled > 1) {
      val d = timepoint - timeSeries(nTimepoints - 2)
      rollLeft(dcsum, dcsum(nTimepoints) + d * d)
    }
    if (nFilled >= windowSize) {
      val idx = nTimepoints - windowSize
      rollLeft(means, (csum(idx + windowSize) - csum(idx)) / windowSize)
      rollLeft(stds, slidingStd(idx))
    }

    if (nFilled < windowSize + exclusionRadius + kNeighbours) return this

    // shift k-NN tables (:374-381)
    if (knnFilled > 0) {
      var i = 0
      while (i < nWindows - 1) { dists(i) = dists(i + 1); knns(i) = knns(i + 1); i += 1 }
      dists(nWindows - 1) = Array.fill(kNeighbours)(Double.PositiveInfinity)
      i = knnInsertIdx - knnFilled
      while (i < knnInsertIdx) {
        val row = knns(i)
        var j = 0
        while (j < kNeighbours) { row(j) -= 1; j += 1 }
        i += 1
      }
      knns(nWindows - 1) = Array.fill(kNeighbours)(-1)
    }

    val firstFlag = dotRolled == null
    if (firstFlag) dotRolled = Array.fill(nWindows)(Double.PositiveInfinity)

    // preprocessing exactly as the batch distances expect (:384-398)
    val preprocessing: AnyRef = distanceName match {
      case "znormed_euclidean_distance" => (means, stds)
      case "euclidean_distance" =>
        val csq = new Array[Double](nWindows)
        var i = 0
        while (i < nWindows) { csq(i) = csumsq(i + windowSize) - csumsq(i); i += 1 }
        csq
      case "cinvariant_euclidean_distance" =>
        val csq = new Array[Double](nWindows)
        val ce = new Array[Double](nWindows)
        var i = 0
        while (i < nWindows) {
          csq(i) = csumsq(i + windowSize) - csumsq(i)
          ce(i) = dcsum(i + windowSize) - dcsum(i) + 1e-5
          i += 1
        }
        (csq, ce, means, stds)
      case other => throw new IllegalArgumentException(s"$other is not a supported distance.")
    }

    // streaming _knn (:140-211)
    val idx = knnInsertIdx
    val startIdx = lbound - 1
    val distRow = distScratch
    java.util.Arrays.fill(distRow, Double.PositiveInfinity)
    if (firstFlag) {
      // seed: dot of the query window vs the filled suffix (direct O(m·w),
      // runs exactly once per series)
      val m = nFilled - windowSize + 1
      var j = 0
      while (j < m) {
        val base = nTimepoints - nFilled + j
        var d = 0.0
        var t = 0
        while (t < windowSize) { d += timeSeries(idx + t) * timeSeries(base + t); t += 1 }
        dotRolled(startIdx + j) = d
        j += 1
      }
    } else {
      val xNew = timeSeries(idx + windowSize - 1)
      var j = 0
      while (j < nWindows) { dotRolled(j) += xNew * timeSeries(windowSize - 1 + j); j += 1 }
      if (startIdx >= 0) {
        var d = 0.0
        var t = 0
        while (t < windowSize) { d += timeSeries(startIdx + t) * timeSeries(idx + t); t += 1 }
        dotRolled(startIdx) = d
      }
    }
    // distances only needed on [startIdx, nWindows): compute directly into
    // distRow instead of materializing a full fresh row (zero-alloc path for
    // the znormed default; other metrics fall back to compute())
    val vs = math.max(startIdx, 0)
    preprocessing match {
      case (means: Array[Double], stds: Array[Double]) if distanceName == "znormed_euclidean_distance" =>
        val mi = means(idx); val si = stds(idx)
        var j = vs
        while (j < nWindows) {
          distRow(j) = 2.0 * windowSize *
            (1.0 - (dotRolled(j) - windowSize * means(j) * mi) / (windowSize * stds(j) * si))
          j += 1
        }
      case _ =>
        val rolledDist = dist.compute(idx, dotRolled, windowSize, preprocessing)
        var j = vs
        while (j < nWindows) { distRow(j) = rolledDist(j); j += 1 }
    }
    // exclusion zone: mask with np.max(dist) (:196-197)
    var mx = Double.NegativeInfinity
    var j = 0
    while (j < nWindows) { if (distRow(j) > mx) mx = distRow(j); j += 1 }
    val e0 = math.max(0, idx - exclusionRadius)
    val e1 = math.min(idx + exclusionRadius, nWindows)
    j = e0
    while (j < e1) { distRow(j) = mx; j += 1 }
    val knnArgs = argsScratch
    val knnVals = valsScratch
    ArgKMin.into(distRow, math.max(lbound, 0), nWindows, kNeighbours,
      knnArgs, knnVals)
    // update dot product (:209)
    j = 0
    while (j < nWindows) { dotRolled(j) -= timeSeries(idx) * timeSeries(j); j += 1 }

    // _roll_knns (:214-280)
    var kk = 0
    while (kk < kNeighbours) {
      dists(knnInsertIdx)(kk) = knnVals(kk)
      knns(knnInsertIdx)(kk) = knnArgs(kk)
      kk += 1
    }
    val lb = math.max(lbound, 0)
    val changeMask = changeScratch
    java.util.Arrays.fill(changeMask, lb, nWindows, true)
    var kdx = 0
    while (kdx < kNeighbours - 1) {
      var i = lb
      while (i < nWindows) {
        if (distRow(i) < dists(i)(kdx) && changeMask(i)) {
          changeMask(i) = false
          val oRow = knns(i); val dRow = dists(i)
          var m = kNeighbours - 1
          while (m > kdx) { oRow(m) = oRow(m - 1); dRow(m) = dRow(m - 1); m -= 1 }
          oRow(kdx) = knnInsertIdx
          dRow(kdx) = distRow(i)
        }
        i += 1
      }
      kdx += 1
    }
    lbound = math.max(0, lbound - 1)
    knnFilled = math.min(knnFilled + 1, knnInsertIdx)
    this
  }

  /** Snapshot → static KSNModel (streaming/nearest_neighbour.py:414-434). */
  def transform(): KSNModel = {
    val rows = knnInsertIdx - lbound
    val d2 = new Array[Array[Double]](rows)
    val o2 = new Array[Array[Int]](rows)
    var i = 0
    while (i < rows) {
      // no defensive clone: downstream (ClaSS profile/validation) is
      // read-only and the snapshot is consumed before the next update
      d2(i) = dists(lbound + i)
      val row = new Array[Int](kNeighbours)
      var j = 0
      while (j < kNeighbours) {
        val v = knns(lbound + i)(j) - lbound
        row(j) = if (v < 0) 0 else if (v > rows - 1) rows - 1 else v
        j += 1
      }
      o2(i) = row
      i += 1
    }
    new KSNModel(windowSize, kNeighbours, distanceName, nTimepoints,
      Array((0, nTimepoints)), d2, o2)
  }
}
