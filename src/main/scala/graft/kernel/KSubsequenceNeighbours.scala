package graft.kernel

/** k-NN subsequence self-join over a (multivariate) time series.
  *
  * Semantics follow `/root/reference/claspy/nearest_neighbour.py`:
  * _argkmin (:67-129, stable strict-< first-index-wins tie-break),
  * _knn (:132-218: O(1) rolling dot update, exclusion-zone row-max masking,
  * per-dimension z-normalisation of the distance rows, dimension averaging,
  * per-temporal-constraint arg-k-min) and KSubsequenceNeighbours
  * (:326-456: prange decomposition, fit, constrain).
  *
  * Differences from the reference (deliberate, engine-determinism):
  *  - the sliding-dot seed row is computed by direct O(n·w) dot products
  *    instead of FFT convolution (mathematically identical, numerically
  *    cleaner; nearest_neighbour.py:12-64 uses rfft/irfft);
  *  - the prange decomposition is a deterministic function of the series
  *    length only (`nJobs` fixed at construction, default 1), never of the
  *    machine's core count, so results are bit-identical at any Spark
  *    parallelism level.
  */
final class KSubsequenceNeighbours(
    val windowSize: Int = 10,
    val kNeighbours: Int = 3,
    val distanceName: String = "znormed_euclidean_distance",
    val nJobs: Int = 1) extends Serializable {

  private val dist = Distance.byName(distanceName)

  /** Fit on a dim-major series (d arrays of length n). */
  def fit(ts: Array[Array[Double]], temporalConstraints: Array[(Int, Int)] = null): KSNModel = {
    val d = ts.length
    val n = ts(0).length
    require(n >= windowSize * kNeighbours,
      "Time series must at least have k_neighbours*window_size data points.")
    val tcs = if (temporalConstraints == null) Array((0, n)) else temporalConstraints

    // prange decomposition (nearest_neighbour.py:389-400)
    var jobs = nJobs
    while (n / jobs < windowSize * kNeighbours && jobs != 1) jobs -= 1
    val binSize = n / jobs
    val pranges = (0 until jobs).flatMap { idx =>
      val start = idx * binSize
      val end = math.min((idx + 1) * binSize, n - windowSize + 1)
      if (end > start) Some((start, end)) else None
    }.toArray

    val l = n - windowSize + 1
    val k = kNeighbours
    // FLAT (l × m·k) tables with stride indexing: one contiguous primitive
    // array per table, no per-row pointer load or object headers
    val stride = tcs.length * k
    val knns = new Array[Int](l * stride)
    val dists = new Array[Double](l * stride)

    val dotRef = Array.tabulate(d)(dim => slidingDot(ts(dim), 0, windowSize))
    val pre = Array.tabulate(d)(dim => dist.preprocess(ts(dim), windowSize))

    for ((start, end) <- pranges) {
      val dotFirst =
        if (start == 0) dotRef.map(_.clone())
        else Array.tabulate(d)(dim => slidingDot(ts(dim), start, windowSize))
      knnRange(ts, start, end, tcs, dotFirst, dotRef, pre, dists, knns)
    }
    new KSNModel(windowSize, kNeighbours, distanceName, n, tcs, dists, knns)
  }

  /** Direct dot product of window at `qStart` against every window: out(j) = <ts[qStart,w), ts[j,w)>. */
  private def slidingDot(ts: Array[Double], qStart: Int, w: Int): Array[Double] = {
    val l = ts.length - w + 1
    val out = new Array[Double](l)
    var j = 0
    while (j < l) {
      var s = 0.0
      var i = 0
      while (i < w) { s += ts(qStart + i) * ts(j + i); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** _knn over [start, end): rolling dot + per-dim distances + tc arg-k-min. */
  private def knnRange(
      ts: Array[Array[Double]], start: Int, end: Int, tcs: Array[(Int, Int)],
      dotFirst: Array[Array[Double]], dotRef: Array[Array[Double]], pre: Array[AnyRef],
      dists: Array[Double], knns: Array[Int]): Unit = {
    val d = ts.length
    val n = ts(0).length
    val w = windowSize
    val l = n - w + 1
    val k = kNeighbours
    val exclusionRadius = w / 2

    val dotPrev = Array.ofDim[Double](d, l)
    val dotRolled = dotFirst.map(_.clone())
    val cdist = new Array[Double](l)
    val acc = new Array[Double](l)
    // scratch reused across orders — fresh O(l) allocations per order made
    // the O(n^2) kernel GC-bound at high task parallelism
    val cdWork = new Array[Double](l)
    val argsBuf = new Array[Int](k)
    val valsBuf = new Array[Double](k)

    var order = start
    while (order < end) {
      if (d > 1) java.util.Arrays.fill(acc, 0.0)
      var dim = 0
      while (dim < d) {
        if (order > start) {
          // nearest_neighbour.py:186-191 — O(1)/step rolling dot update
          val t = ts(dim)
          val dr = dotRolled(dim); val dp = dotPrev(dim)
          val a = t(order + w - 1)
          val b = t(order - 1)
          var j = l - 1
          while (j >= 1) {
            dr(j) = dp(j - 1) + a * t(w - 1 + j) - b * t(j - 1)
            j -= 1
          }
          dr(0) = dotRef(dim)(order)
        }
        val cd = cdWork
        // compute + row max fused (one O(l) pass instead of two)
        var mx = dist.computeIntoMax(order, dotRolled(dim), w, pre(dim), cd)
        // exclusion zone: mask trivial self-matches with the row max (:195-201)
        val lo = math.max(0, order - exclusionRadius)
        val hi = math.min(order + exclusionRadius + 1, l)
        var j = lo
        while (j < hi) { cd(j) = mx; j += 1 }
        // per-dim z-normalisation of the distance row (:204-205)
        var s = 0.0
        j = 0
        while (j < l) { s += cd(j); j += 1 }
        val mean = s / l
        var sq = 0.0
        j = 0
        while (j < l) { val e = cd(j) - mean; sq += e * e; j += 1 }
        // guard: a constant distance row (degenerate/constant series) would be
        // 0/0 = NaN in the reference and crash its argkmin with garbage
        // indices; the zero-contribution limit keeps the engine total here.
        val std = math.sqrt(sq / l)
        if (d == 1) {
          // univariate fast path: write the final row directly — acc(j) was
          // 0 + x and cdist(j) was acc(j)/1, both FP no-ops, so this is
          // bit-identical while skipping three O(l) sweeps (fill, acc, div)
          if (std > 0) {
            j = 0
            while (j < l) { cdist(j) = (cd(j) - mean) / std; j += 1 }
          } else java.util.Arrays.fill(cdist, 0.0)
        } else if (std > 0) {
          j = 0
          while (j < l) { acc(j) += (cd(j) - mean) / std; j += 1 }
        }
        // stash rolled dot for next order
        val tmp = dotPrev(dim); dotPrev(dim) = dotRolled(dim); dotRolled(dim) = tmp
        dim += 1
      }
      if (d > 1) {
        var j = 0
        while (j < l) { cdist(j) = acc(j) / d; j += 1 }
      }

      val stride = tcs.length * k
      var kdx = 0
      while (kdx < tcs.length) {
        val (lb, ub) = tcs(kdx)
        if (order >= lb && order < ub) {
          ArgKMin.into(cdist, lb, ub - w + 1, k, argsBuf, valsBuf)
          val base = order * stride + kdx * k
          var i = 0
          while (i < k) {
            knns(base + i) = argsBuf(i)
            dists(base + i) = valsBuf(i)
            i += 1
          }
        }
        kdx += 1
      }
      order += 1
    }
    // dotPrev/dotRolled were swapped per dim; nothing to restore — each range re-seeds.
  }
}

/** Stable arg-k-min: k smallest values, strict `<` so the first index wins ties
  * (nearest_neighbour.py:107-129). Searches dist[lo, hi). */
object ArgKMin {
  def apply(dist: Array[Double], lo: Int, hi: Int, k: Int): (Array[Int], Array[Double]) = {
    val args = new Array[Int](k)
    val vals = new Array[Double](k)
    into(dist, lo, hi, k, args, vals)
    (args, vals)
  }

  /** Allocation-free single-pass variant: one streaming pass keeps the k
    * smallest with a strict-< insertion, which reproduces the reference's
    * k-pass ∞-masking EXACTLY — in both, ties go to the earliest index, and
    * slots beyond the number of finite values stay (∞, -1). One pass instead
    * of k makes the O(n²·m) ensemble kNN ~k× cheaper on its dominant loop. */
  def into(dist: Array[Double], lo: Int, hi: Int, k: Int,
      args: Array[Int], vals: Array[Double]): Unit = {
    var i = 0
    while (i < k) { args(i) = -1; vals(i) = Double.PositiveInfinity; i += 1 }
    var j = lo
    while (j < hi) {
      val v = dist(j)
      if (v < vals(k - 1)) {
        var p = k - 1
        while (p > 0 && v < vals(p - 1)) {
          vals(p) = vals(p - 1); args(p) = args(p - 1)
          p -= 1
        }
        vals(p) = v; args(p) = j
      }
      j += 1
    }
  }
}

/** Fitted k-NN tables, stored FLAT: `offsetsFlat`/`distancesFlat` are
  * row-major (l × m·k) with l = n - w + 1 rows, m temporal constraints and
  * stride m·k (nearest_neighbour.py:251-254 reshaped). The ClaSP profile
  * reads the offsets in O(n·k) per temporal constraint, building the
  * reverse-NN index ([[CrossVal.rnn]]) it follows vote counts through. */
final class KSNModel(
    val windowSize: Int,
    val kNeighbours: Int,
    val distanceName: String,
    val nTimepoints: Int,
    val temporalConstraints: Array[(Int, Int)],
    val distancesFlat: Array[Double],
    val offsetsFlat: Array[Int]) extends Serializable {

  /** Row stride of the flat tables. */
  val stride: Int = temporalConstraints.length * kNeighbours
  /** Number of table rows (windows). */
  def nOffsets: Int = offsetsFlat.length / stride

  /** Convenience constructor from row tables (streaming snapshot path). */
  def this(windowSize: Int, kNeighbours: Int, distanceName: String,
      nTimepoints: Int, temporalConstraints: Array[(Int, Int)],
      distances: Array[Array[Double]], offsets: Array[Array[Int]]) =
    this(windowSize, kNeighbours, distanceName, nTimepoints, temporalConstraints,
      KSNModel.flattenD(distances), KSNModel.flattenI(offsets))

  /** Row-matrix view (tests / ad-hoc inspection; not for hot loops). */
  def offsets: Array[Array[Int]] =
    Array.tabulate(nOffsets)(i => java.util.Arrays.copyOfRange(offsetsFlat, i * stride, (i + 1) * stride))
  def distances: Array[Array[Double]] =
    Array.tabulate(nOffsets)(i => java.util.Arrays.copyOfRange(distancesFlat, i * stride, (i + 1) * stride))

  /** Re-slice to one temporal constraint, offsets rebased by -lbound
    * (nearest_neighbour.py:412-456). */
  def constrain(lbound: Int, ubound: Int): KSNModel = {
    val tcIdx = temporalConstraints.indexWhere(tc => tc._1 == lbound && tc._2 == ubound)
    require(tcIdx >= 0, s"($lbound,$ubound) is not a valid temporal constraint.")
    val k = kNeighbours
    val rows = ubound - windowSize + 1 - lbound
    val d2 = new Array[Double](rows * k)
    val o2 = new Array[Int](rows * k)
    var i = 0
    while (i < rows) {
      val src = (lbound + i) * stride + tcIdx * k
      var j = 0
      while (j < k) {
        d2(i * k + j) = distancesFlat(src + j)
        o2(i * k + j) = offsetsFlat(src + j) - lbound
        j += 1
      }
      i += 1
    }
    new KSNModel(windowSize, kNeighbours, distanceName, ubound - lbound,
      Array((0, ubound - lbound)), d2, o2)
  }
}

object KSNModel {
  private def flattenI(rows: Array[Array[Int]]): Array[Int] = {
    if (rows.isEmpty) return Array.empty
    val k = rows(0).length
    val out = new Array[Int](rows.length * k)
    var i = 0
    while (i < rows.length) { System.arraycopy(rows(i), 0, out, i * k, k); i += 1 }
    out
  }
  private def flattenD(rows: Array[Array[Double]]): Array[Double] = {
    if (rows.isEmpty) return Array.empty
    val k = rows(0).length
    val out = new Array[Double](rows.length * k)
    var i = 0
    while (i < rows.length) { System.arraycopy(rows(i), 0, out, i * k, k); i += 1 }
    out
  }
}
