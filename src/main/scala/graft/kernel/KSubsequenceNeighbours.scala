package graft.kernel

/** k-NN subsequence self-join over a (multivariate) time series.
  *
  * Semantics follow `/root/reference/claspy/nearest_neighbour.py`:
  * _argkmin (:67-129, stable strict-< first-index-wins tie-break),
  * _knn (:132-218: O(1) rolling dot update, exclusion-zone row-max masking,
  * per-dimension z-normalisation of the distance rows, dimension averaging,
  * per-temporal-constraint arg-k-min) and KSubsequenceNeighbours
  * (:326-456: fit, constrain).
  *
  * Differences from the reference (deliberate, engine-determinism):
  *  - the sliding-dot seed row is computed by direct O(n·w) dot products
  *    instead of FFT convolution (mathematically identical, numerically
  *    cleaner; nearest_neighbour.py:12-64 uses rfft/irfft);
  *  - one pass over all orders instead of the reference's n_jobs ranges,
  *    so results never depend on the machine's core count;
  *  - one selection sweep per order serves every temporal constraint: the
  *    row is cut at each constraint's search-range bounds and read piece by
  *    piece from the left, and each piece's k smallest merge into the list
  *    of every constraint covering it. The univariate row is selected raw
  *    and z-normalised only for candidates. Both give the per-constraint
  *    arg-k-min bit for bit.
  */
final class KSubsequenceNeighbours(
    val windowSize: Int = 10,
    val kNeighbours: Int = 3,
    val distanceName: String = "znormed_euclidean_distance") extends Serializable {

  private val dist = Distance.byName(distanceName)

  /** Fit on a dim-major series (d arrays of length n). */
  def fit(ts: Array[Array[Double]], temporalConstraints: Array[(Int, Int)] = null): KSNModel = {
    val n = ts(0).length
    require(n >= windowSize * kNeighbours,
      "Time series must at least have k_neighbours*window_size data points.")
    val tcs = if (temporalConstraints == null) Array((0, n)) else temporalConstraints
    // FLAT (l × m·k) tables with stride indexing: one contiguous primitive
    // array per table, no per-row pointer load or object headers
    val cells = (n - windowSize + 1) * tcs.length * kNeighbours
    val knns = new Array[Int](cells)
    val dists = new Array[Double](cells)
    selfJoin(ts, tcs, dists, knns)
    new KSNModel(windowSize, kNeighbours, distanceName, n, tcs, dists, knns)
  }

  /** Direct dot product of the first window against every window: out(j) = <ts[0,w), ts[j,w)>. */
  private def slidingDot(ts: Array[Double], w: Int): Array[Double] = {
    val l = ts.length - w + 1
    val out = new Array[Double](l)
    var j = 0
    while (j < l) {
      var s = 0.0
      var i = 0
      while (i < w) { s += ts(i) * ts(j + i); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** _knn over every order: rolling dot + per-dim distances + tc arg-k-min. */
  private def selfJoin(ts: Array[Array[Double]], tcs: Array[(Int, Int)],
      dists: Array[Double], knns: Array[Int]): Unit = {
    val d = ts.length
    val w = windowSize
    val l = ts(0).length - w + 1
    val k = kNeighbours
    val exclusionRadius = w / 2
    val stride = tcs.length * k

    // constraint kdx searches [lbs(kdx), ends(kdx)): cut [0, l) at every
    // such bound into pieces; covering(p) lists the constraints whose range
    // holds piece p, latest start first
    val lbs = tcs.map(_._1)
    val ubs = tcs.map(_._2)
    val ends = tcs.map(_._2 - w + 1)
    val cuts = (Seq(0, l) ++ tcs.indices.filter(i => ends(i) > lbs(i))
      .flatMap(i => Seq(lbs(i), ends(i)))).distinct.sorted.toArray
    val covering = Array.tabulate(cuts.length - 1)(p => tcs.indices
      .filter(i => lbs(i) <= cuts(p) && cuts(p + 1) <= ends(i)).sortBy(i => -lbs(i)).toArray)
    // every constraint's running list, and one piece's list
    val tcArgs = new Array[Int](stride)
    val tcVals = new Array[Double](stride)
    val pieceArgs = new Array[Int](k)
    val pieceVals = new Array[Double](k)

    val pre = Array.tabulate(d)(dim => dist.preprocess(ts(dim), w))
    val dotRef = Array.tabulate(d)(dim => slidingDot(ts(dim), w))
    val dotRolled = dotRef.map(_.clone())
    val dotPrev = Array.ofDim[Double](d, l)
    // scratch reused across orders — fresh O(l) allocations per order made
    // the O(n^2) kernel GC-bound at high task parallelism
    val cd = new Array[Double](l)
    // the materialised selection row: the dimension average when d > 1, the
    // zero-filled row of a univariate order whose distance row is constant
    val cdist = new Array[Double](l)

    var order = 0
    while (order < l) {
      if (d > 1) java.util.Arrays.fill(cdist, 0.0)
      var mean = 0.0
      var std = 0.0
      var dim = 0
      while (dim < d) {
        val dr = dotRolled(dim)
        if (order > 0) {
          // nearest_neighbour.py:186-191 — O(1)/step rolling dot update
          val t = ts(dim)
          val dp = dotPrev(dim)
          val a = t(order + w - 1)
          val b = t(order - 1)
          var j = 1
          while (j < l) {
            dr(j) = dp(j - 1) + a * t(w - 1 + j) - b * t(j - 1)
            j += 1
          }
          dr(0) = dotRef(dim)(order)
        }
        dist.computeInto(order, dr, w, pre(dim), cd)
        var mx = Double.NegativeInfinity
        var j = 0
        while (j < l) { if (cd(j) > mx) mx = cd(j); j += 1 }
        // exclusion zone: mask trivial self-matches with the row max (:195-201)
        val lo = math.max(0, order - exclusionRadius)
        val hi = math.min(order + exclusionRadius + 1, l)
        j = lo
        while (j < hi) { cd(j) = mx; j += 1 }
        // per-dim z-normalisation of the distance row (:204-205)
        var s = 0.0
        j = 0
        while (j < l) { s += cd(j); j += 1 }
        mean = s / l
        var sq = 0.0
        j = 0
        while (j < l) { val e = cd(j) - mean; sq += e * e; j += 1 }
        // guard: a constant distance row (degenerate/constant series) would be
        // 0/0 = NaN in the reference and crash its argkmin with garbage
        // indices; the zero-contribution limit keeps the engine total here.
        std = math.sqrt(sq / l)
        if (d > 1 && std > 0) {
          j = 0
          while (j < l) { cdist(j) += (cd(j) - mean) / std; j += 1 }
        }
        // stash rolled dot for next order
        dotRolled(dim) = dotPrev(dim)
        dotPrev(dim) = dr
        dim += 1
      }
      if (d > 1) {
        var j = 0
        while (j < l) { cdist(j) = cdist(j) / d; j += 1 }
      } else if (!(std > 0)) java.util.Arrays.fill(cdist, 0.0)

      // one selection sweep, piece by piece from the left: each piece's k
      // smallest below a bound, merged into every constraint covering it.
      // The latest-starting covering constraint has seen the fewest values,
      // so its k-th bounds the k-th of every other: a value at or above it
      // enters none of their lists.
      java.util.Arrays.fill(tcArgs, -1)
      java.util.Arrays.fill(tcVals, Double.PositiveInfinity)
      var p = 0
      while (p < covering.length) {
        val cov = covering(p)
        if (cov.length > 0) {
          val kth = cov(0) * k + k - 1
          if (d == 1 && std > 0)
            ArgKMin.intoScaled(cd, cuts(p), cuts(p + 1), mean, std, tcVals(kth), tcArgs(kth),
              k, pieceArgs, pieceVals)
          else ArgKMin.into(cdist, cuts(p), cuts(p + 1), k, pieceArgs, pieceVals, tcVals(kth))
          var c = 0
          while (c < cov.length) { ArgKMin.merge(pieceArgs, pieceVals, k, tcArgs, tcVals, cov(c) * k); c += 1 }
        }
        p += 1
      }
      var kdx = 0
      while (kdx < tcs.length) {
        if (order >= lbs(kdx) && order < ubs(kdx)) {
          System.arraycopy(tcArgs, kdx * k, knns, order * stride + kdx * k, k)
          System.arraycopy(tcVals, kdx * k, dists, order * stride + kdx * k, k)
        }
        kdx += 1
      }
      order += 1
    }
  }
}

/** Stable arg-k-min: k smallest values, strict `<` so the first index wins ties
  * (nearest_neighbour.py:107-129). Each list is k slots of `args`/`vals`,
  * ascending by (value, index); slots beyond the number of values stay
  * (+inf, -1), and NaN or +inf never enter. */
object ArgKMin {

  /** The k smallest of dist[lo, hi) below `bound`, in one streaming pass
    * with a strict-< insertion. With no bound this reproduces the
    * reference's k-pass inf-masking exactly: in both, ties go to the
    * earliest index. */
  def into(dist: Array[Double], lo: Int, hi: Int, k: Int, args: Array[Int], vals: Array[Double],
      bound: Double = Double.PositiveInfinity): Unit = {
    clear(k, args, vals, 0)
    var kth = bound
    var j = lo
    while (j < hi) {
      val v = dist(j)
      if (v < kth) {
        insert(v, j, k, args, vals, 0)
        if (args(k - 1) >= 0) kth = vals(k - 1)
      }
      j += 1
    }
  }

  /** [[into]] over (raw(j) - mean) / std, below `boundVal`, the quotient of
    * raw(boundArg) (no bound when boundArg < 0), dividing only where the
    * quotient can enter: with std > 0 the quotient is monotone in raw(j)
    * under IEEE rounding, so a raw value at or above the raw value of the
    * k-th entry (or of the bound) cannot beat that entry. */
  def intoScaled(raw: Array[Double], lo: Int, hi: Int, mean: Double, std: Double,
      boundVal: Double, boundArg: Int, k: Int, args: Array[Int], vals: Array[Double]): Unit = {
    clear(k, args, vals, 0)
    var kth = boundVal
    var rawKth = if (boundArg < 0) Double.PositiveInfinity else raw(boundArg)
    var j = lo
    while (j < hi) {
      val x = raw(j)
      if (x < rawKth) {
        val v = (x - mean) / std
        if (v < kth) {
          insert(v, j, k, args, vals, 0)
          val a = args(k - 1)
          if (a >= 0) { kth = vals(k - 1); rawKth = raw(a) }
        }
      }
      j += 1
    }
  }

  /** Merges the list `src` into the list at `at`. Exact when every index in
    * `src` is above every index already there: strict `<` then keeps the
    * first-index tie order. */
  def merge(srcArgs: Array[Int], srcVals: Array[Double], k: Int,
      args: Array[Int], vals: Array[Double], at: Int): Unit = {
    // src ascends, so its first value that misses ends it
    var s = 0
    while (s < k && srcVals(s) < vals(at + k - 1)) {
      insert(srcVals(s), srcArgs(s), k, args, vals, at)
      s += 1
    }
  }

  private def clear(k: Int, args: Array[Int], vals: Array[Double], at: Int): Unit = {
    var i = at
    while (i < at + k) { args(i) = -1; vals(i) = Double.PositiveInfinity; i += 1 }
  }

  /** Inserts (v, j), v below the k-th value, after every value <= v. */
  private def insert(v: Double, j: Int, k: Int, args: Array[Int], vals: Array[Double], at: Int): Unit = {
    var p = at + k - 1
    while (p > at && v < vals(p - 1)) {
      vals(p) = vals(p - 1); args(p) = args(p - 1)
      p -= 1
    }
    vals(p) = v; args(p) = j
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
