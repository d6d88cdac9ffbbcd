package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** The kNN self-join's selection against a straightforward reference: every
  * order rolls its dot row, builds each dimension's distance row with the
  * distance formula, masks the exclusion zone with the row max, z-normalises
  * the row, averages the dimensions into one materialised row, and then runs
  * one strict-< arg-k-min per active temporal constraint over that
  * constraint's own search range. Offsets must match exactly and distances
  * bit for bit (`doubleToRawLongBits`), for the full tables and for every
  * `constrain(lb, ub)` slice. */
class KnnSelectionSpec extends AnyFunSuite {

  private val distances = Seq(
    "znormed_euclidean_distance", "euclidean_distance", "cinvariant_euclidean_distance")

  /** Stable arg-k-min over dist[lo, hi): strict `<`, first index wins ties,
    * empty slots stay (+inf, -1). */
  private def argKMin(dist: Array[Double], lo: Int, hi: Int, k: Int): (Array[Int], Array[Double]) = {
    val args = Array.fill(k)(-1)
    val vals = Array.fill(k)(Double.PositiveInfinity)
    var j = lo
    while (j < hi) {
      val v = dist(j)
      if (v < vals(k - 1)) {
        var p = k - 1
        while (p > 0 && v < vals(p - 1)) { vals(p) = vals(p - 1); args(p) = args(p - 1); p -= 1 }
        vals(p) = v; args(p) = j
      }
      j += 1
    }
    (args, vals)
  }

  /** One distance row by the formula (distance.py semantics). */
  private def distanceRow(name: String, ts: Array[Double], w: Int, idx: Int,
      dot: Array[Double]): Array[Double] = {
    val l = dot.length
    name match {
      case "znormed_euclidean_distance" =>
        val (means, stds) = SlidingStats.slidingMeanStd(ts, w)
        val mi = means(idx); val si = stds(idx)
        Array.tabulate(l)(j => 2.0 * w * (1.0 - (dot(j) - w * means(j) * mi) / (w * stds(j) * si)))
      case "euclidean_distance" =>
        val csumsq = SlidingStats.slidingCsum(ts, w)
        Array.tabulate(l)(j => -2.0 * dot(j) + csumsq(j) + csumsq(idx))
      case _ =>
        val (csumsq, ce, _, _) = SlidingStats.slidingCsumDcsum(ts, w)
        Array.tabulate(l) { j =>
          val ed = -2.0 * dot(j) + csumsq(j) + csumsq(idx)
          ed * (math.max(ce(j), ce(idx)) / math.min(ce(j), ce(idx)))
        }
    }
  }

  /** Reference tables (flat, stride m·k) with one arg-k-min per active tc. */
  private def reference(ts: Array[Array[Double]], w: Int, k: Int, name: String,
      tcs: Array[(Int, Int)]): (Array[Int], Array[Double]) = {
    val d = ts.length
    val n = ts(0).length
    val l = n - w + 1
    val stride = tcs.length * k
    val knns = new Array[Int](l * stride)
    val dists = new Array[Double](l * stride)
    def slidingDot(t: Array[Double], q: Int): Array[Double] = Array.tabulate(l) { j =>
      var s = 0.0; var i = 0
      while (i < w) { s += t(q + i) * t(j + i); i += 1 }
      s
    }
    val dotRef = ts.map(slidingDot(_, 0))
    var dot = dotRef.map(_.clone())
    for (order <- 0 until l) {
      if (order > 0) {
        // the rolling O(1) update of every dot product (nearest_neighbour.py:186-191)
        dot = Array.tabulate(d) { dim =>
          val t = ts(dim); val prev = dot(dim)
          val next = new Array[Double](l)
          var j = l - 1
          while (j >= 1) {
            next(j) = prev(j - 1) + t(order + w - 1) * t(w - 1 + j) - t(order - 1) * t(j - 1)
            j -= 1
          }
          next(0) = dotRef(dim)(order)
          next
        }
      }
      // each dimension's z-normalised row; None when the row's std is not
      // positive (constant or non-finite rows contribute nothing)
      val rows = (0 until d).map { dim =>
        val cd = distanceRow(name, ts(dim), w, order, dot(dim))
        var mx = Double.NegativeInfinity
        for (v <- cd) if (v > mx) mx = v
        for (j <- math.max(0, order - w / 2) until math.min(order + w / 2 + 1, l)) cd(j) = mx
        var s = 0.0
        for (v <- cd) s += v
        val mean = s / l
        var sq = 0.0
        for (v <- cd) { val e = v - mean; sq += e * e }
        val std = math.sqrt(sq / l)
        if (std > 0) Some(cd.map(v => (v - mean) / std)) else None
      }
      val cdist =
        if (d == 1) rows(0).getOrElse(new Array[Double](l))
        else {
          val acc = new Array[Double](l)
          for (row <- rows.flatten; j <- 0 until l) acc(j) += row(j)
          acc.map(_ / d)
        }
      for (((lb, ub), kdx) <- tcs.zipWithIndex if order >= lb && order < ub) {
        val (args, vals) = argKMin(cdist, lb, ub - w + 1, k)
        System.arraycopy(args, 0, knns, order * stride + kdx * k, k)
        System.arraycopy(vals, 0, dists, order * stride + kdx * k, k)
      }
    }
    (knns, dists)
  }

  /** Sine regimes with LOCF-filled gaps, coarsely quantised values (exact
    * distance ties) and constant stretches (rows whose z-normalisation
    * falls back to zeros). */
  private def series(rng: java.util.Random, n: Int): Array[Double] = {
    val out = new Array[Double](n)
    var f = 0.05 + 0.3 * rng.nextDouble()
    val quantised = rng.nextInt(3) == 0
    var i = 0
    while (i < n) {
      if (rng.nextInt(n) < 4) f = 0.05 + 0.3 * rng.nextDouble()
      val v = 2.0 * math.sin(i * f) + 0.2 * rng.nextGaussian()
      out(i) = if (quantised) math.rint(v) else v
      i += 1
    }
    // LOCF gaps and constant stretches: carry one value over a run
    for (_ <- 0 until rng.nextInt(4)) {
      val start = rng.nextInt(n)
      val len = 1 + rng.nextInt(math.max(1, n / 6))
      var j = start + 1
      while (j < math.min(n, start + len)) { out(j) = out(start); j += 1 }
    }
    out
  }

  private def assertSame(got: KSNModel, wantOff: Array[Int], wantDist: Array[Double], clue: String): Unit = {
    assert(got.offsetsFlat.length == wantOff.length && got.distancesFlat.length == wantDist.length, clue)
    var i = 0
    while (i < wantOff.length) {
      if (got.offsetsFlat(i) != wantOff(i))
        fail(s"$clue: offset($i) = ${got.offsetsFlat(i)}, expected ${wantOff(i)}")
      if (java.lang.Double.doubleToRawLongBits(got.distancesFlat(i)) !=
          java.lang.Double.doubleToRawLongBits(wantDist(i)))
        fail(s"$clue: distance($i) = ${got.distancesFlat(i)}, expected ${wantDist(i)}")
      i += 1
    }
  }

  test("kNN tables equal the per-constraint reference bit for bit (d = 1, 2, 3; three distances)") {
    val rng = new java.util.Random(20261018L)
    for (c <- 0 until 240) {
      val d = 1 + c % 3
      val name = distances((c / 3) % 3)
      val w = 3 + rng.nextInt(30)
      val k = 1 + rng.nextInt(4)
      val lo = math.max(w * k, 6 * w)
      val n = lo + rng.nextInt(if (d == 1) 900 else 400)
      val ts = Array.fill(d)(series(rng, n))
      // the ensemble's constraints, plus one whose search range is empty
      val minSeg = w * (1 + rng.nextInt(3))
      val ensemble = ClaSP.temporalConstraints(n, 10, minSeg, 2357L + c)
      val lb = rng.nextInt(n - w)
      val tcs = if (rng.nextInt(5) == 0) null else ensemble :+ ((lb, lb + 1 + rng.nextInt(w - 1)))
      val model = new KSubsequenceNeighbours(w, k, name).fit(ts, tcs)
      val refTcs = if (tcs == null) Array((0, n)) else tcs
      val (wantOff, wantDist) = reference(ts, w, k, name, refTcs)
      val clue = s"case $c d=$d $name n=$n w=$w k=$k tcs=${refTcs.mkString(",")}"
      assertSame(model, wantOff, wantDist, clue)

      // constrain(lb, ub): the tc's columns, rows [lb, ub - w + 1), offsets rebased
      val stride = refTcs.length * k
      for (((clb, cub), kdx) <- refTcs.zipWithIndex if cub - w + 1 >= clb) {
        val rows = cub - w + 1 - clb
        val off = new Array[Int](rows * k)
        val dist = new Array[Double](rows * k)
        for (r <- 0 until rows; i <- 0 until k) {
          off(r * k + i) = wantOff((clb + r) * stride + kdx * k + i) - clb
          dist(r * k + i) = wantDist((clb + r) * stride + kdx * k + i)
        }
        assertSame(model.constrain(clb, cub), off, dist, s"$clue constrain($clb,$cub)")
      }
    }
  }

  test("all-constant and tie-heavy series: zero-filled rows and first-index-wins ties") {
    val rng = new java.util.Random(5L)
    for (name <- distances; d <- 1 to 2; k <- 1 to 4) {
      val w = 3 + rng.nextInt(8)
      val n = 8 * w + rng.nextInt(100)
      val constant = Array.fill(d)(Array.fill(n)(1.5))
      val steps = Array.fill(d)(Array.tabulate(n)(i => ((i / 2) % 3).toDouble))
      for (ts <- Seq(constant, steps)) {
        val tcs = ClaSP.temporalConstraints(n, 10, 2 * w, 11L * k)
        val (wantOff, wantDist) = reference(ts, w, k, name, tcs)
        assertSame(new KSubsequenceNeighbours(w, k, name).fit(ts, tcs), wantOff, wantDist,
          s"$name d=$d k=$k w=$w n=$n")
      }
    }
  }
}
