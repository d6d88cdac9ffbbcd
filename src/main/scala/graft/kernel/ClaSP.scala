package graft.kernel

/** ClaSP: classification-score profile over a fitted k-NN table.
  *
  * Semantics follow `/root/reference/claspy/clasp.py`: _profile (:14-46),
  * ClaSP.fit (:145-209 — profile evaluated on splits
  * [min_seg_size, n_offsets - min_seg_size + window_size) with -inf
  * elsewhere), split (:245-285 — argmax gated by a validation test), and
  * ClaSPEnsemble (:288-443 — seeded temporal-constraint sampling, shared knn,
  * per-tc profile rescaling `(p + (ub-lb)/n)/2`, keep-best with early
  * stopping, -inf canvas embedding).
  */
final class ClaSPModel(
    val windowSize: Int,
    val kNeighbours: Int,
    val scoreName: String,
    val exclRadius: Int,
    val knn: KSNModel,
    val profile: Array[Double],
    val lbound: Int,
    val ubound: Int) extends Serializable {

  def minSegSize: Int = windowSize * exclRadius

  /** argmax of the profile (first max wins, like np.argmax). */
  def argmax: Int = {
    var best = Double.NegativeInfinity
    var arg = 0
    var i = 0
    while (i < profile.length) {
      if (profile(i) > best) { best = profile(i); arg = i }
      i += 1
    }
    arg
  }

  /** clasp.py:245-285 — argmax gated by validation; None if rejected. */
  def split(validation: String, threshold: Double): Option[Int] = {
    val cp = argmax
    val ok = validation match {
      case null | "" => true
      case "significance_test" =>
        Validation.significanceTest(knn.offsetsFlat, knn.stride, lbound, windowSize, cp, threshold)
      case "score_threshold" =>
        Validation.scoreThreshold(profile, cp, threshold)
      case other => throw new IllegalArgumentException(
        s"$other is not a valid validation method.")
    }
    if (ok) Some(cp) else None
  }
}

object ClaSP {

  /** ClaSP.fit (clasp.py:145-209). `ts` is dim-major (d arrays of n). */
  def fit(ts: Array[Array[Double]], windowSize: Int, kNeighbours: Int,
          distanceName: String, scoreName: String, exclRadius: Int,
          knnIn: KSNModel = null): ClaSPModel = {
    val n = ts(0).length
    val minSegSize = windowSize * exclRadius
    require(exclRadius > kNeighbours, "Exclusion radius must be larger than the number of neighbours used.")
    require(n >= 2 * minSegSize, "Time series must at least have 2*min_seg_size data points.")

    val knn =
      if (knnIn != null) knnIn
      else new KSubsequenceNeighbours(windowSize, kNeighbours, distanceName).fit(ts)

    val isF1 = scoreName match {
      case "f1" => true
      case "roc_auc" => false
      case other => throw new IllegalArgumentException(
        s"$other is not a valid score. Implementations include: f1, roc_auc")
    }
    val nOff = knn.nOffsets
    val profile = Array.fill(nOff)(Double.NegativeInfinity)
    // single-prange decomposition (clasp.py:188-199 with n_jobs=1):
    val start = math.max(0, minSegSize)
    val end = math.min(nOff, nOff - minSegSize + windowSize)
    if (start < end) profileInto(knn.offsetsFlat, knn.stride, windowSize, start, end, isF1, profile)
    new ClaSPModel(windowSize, kNeighbours, scoreName, exclRadius, knn, profile, 0, n)
  }

  /** Writes profile(split) for split in [start, end) in O(n·k) total time,
    * bit-identical to scoring `CrossVal.labels` at every split.
    *
    * Each row's base vote is the majority of its k neighbours' y_true; its
    * final label is 1 inside the forced window [split-w, split) and the
    * base vote elsewhere. Every score is a function of four integers: n,
    * split, onesRight (labels 1 at or after split, i.e. base votes there)
    * and onesTotal (all labels 1 = base votes outside the window + w).
    * Advancing the split turns y_true(split) from 1 to 0, which can only
    * take votes away, and only from the reverse neighbours of split; the
    * window and the right part each move by one index. So three counters
    * of base votes (all rows, window rows, rows at or after split) follow
    * the split in O(1 + |rnn(split)|). Scores go through the count-based
    * entry points of [[Scoring]], the same arithmetic the array-based
    * scores use. */
  private def profileInto(offsetsFlat: Array[Int], k: Int, w: Int, start: Int, end: Int,
      isF1: Boolean, profile: Array[Double]): Unit = {
    val n = offsetsFlat.length / k
    // the forced window never wraps (numpy's negative indices) in this range
    require(start >= w, s"first split $start lies inside the first window ($w)")
    val (rnnOff, rnnVal) = CrossVal.rnn(offsetsFlat, k)
    // votes(i): row i's neighbours at or after the current split
    val votes = new Array[Int](n)
    var q = rnnOff(start)
    while (q < rnnVal.length) { votes(rnnVal(q)) += 1; q += 1 }
    @inline def base(row: Int): Int = if (votes(row) > k - votes(row)) 1 else 0
    var baseTotal = 0; var baseWindow = 0; var baseRight = 0
    var i = 0
    while (i < n) {
      val b = base(i)
      baseTotal += b
      if (i >= start) baseRight += b
      else if (i >= start - w) baseWindow += b
      i += 1
    }
    // the roc curve of a step score has two points past the origin
    val tps = new Array[Double](3)
    val fps = new Array[Double](3)
    var split = start
    while (split < end) {
      val onesRight = baseRight
      val onesTotal = baseTotal - baseWindow + w
      profile(split) =
        if (isF1) {
          // y_true is 1 at or after split: tp, fp, fn, tn of label 1
          val onesLeft = onesTotal - onesRight
          Scoring.f1FromCounts(onesRight, onesLeft, n - split - onesRight, split - onesLeft)
        } else {
          // y_score reversed: n-split ones, then split zeros (scoring.py:99-111)
          tps(1) = onesRight
          fps(1) = 1.0 + (n - split - 1) - onesRight
          tps(2) = onesTotal
          fps(2) = 1.0 + (n - 1) - onesTotal
          Scoring.rocAucFromCurve(tps, fps, 2)
        }
      if (split + 1 < end) {
        q = rnnOff(split)
        while (q < rnnOff(split + 1)) {
          val row = rnnVal(q)
          val before = base(row)
          votes(row) -= 1
          if (before != base(row)) {
            baseTotal -= 1
            if (row >= split) baseRight -= 1
            else if (row >= split - w) baseWindow -= 1
          }
          q += 1
        }
        val b = base(split)
        baseWindow += b - base(split - w)
        baseRight -= b
      }
      split += 1
    }
  }

  /** _calculate_temporal_constraints (clasp.py:335-357). */
  def temporalConstraints(n: Int, nEstimators: Int, minSegSize: Int, randomState: Long): Array[(Int, Int)] = {
    val tcs = scala.collection.mutable.ArrayBuffer[(Int, Int)]((0, n))
    val rng = new NumpyRandom(randomState)
    while (tcs.length < nEstimators && n > 3 * minSegSize) {
      val lbound = rng.randintBelow(n).toInt
      var area = rng.randintBelow(n).toInt
      if (n - lbound < area) area = n - lbound
      val ubound = lbound + area
      if (ubound - lbound >= 2 * minSegSize) tcs += ((lbound, ubound))
    }
    // python sorted(key=length, reverse=True) is stable; sortBy is stable too
    tcs.sortBy(tc => -(tc._2 - tc._1)).toArray
  }

  /** ClaSPEnsemble.fit (clasp.py:359-443). Returns the fitted ensemble model
    * (profile = -inf canvas with the best constrained profile embedded). */
  def fitEnsemble(ts: Array[Array[Double]], nEstimators: Int, windowSize: Int,
                  kNeighbours: Int, distanceName: String, scoreName: String,
                  earlyStopping: Boolean, exclRadius: Int, randomState: Long,
                  validation: String, threshold: Double): ClaSPModel = {
    val n = ts(0).length
    val minSegSize = windowSize * exclRadius
    require(n >= 2 * minSegSize, "Time series must at least have 2*min_seg_size data points.")

    val tcs = temporalConstraints(n, nEstimators, minSegSize, randomState)
    val knn = new KSubsequenceNeighbours(windowSize, kNeighbours, distanceName).fit(ts, tcs)

    var bestScore = Double.NegativeInfinity
    var bestTc: (Int, Int) = null
    var bestClasp: ClaSPModel = null

    var idx = 0
    var break_ = false
    while (idx < tcs.length && !break_) {
      val (lbound, ubound) = tcs(idx)
      val sub = ts.map(dim => java.util.Arrays.copyOfRange(dim, lbound, ubound))
      val clasp = fit(sub, windowSize, kNeighbours, distanceName, scoreName,
        exclRadius, knn.constrain(lbound, ubound))
      // rescale (clasp.py:420)
      val frac = (ubound - lbound).toDouble / n
      var i = 0
      while (i < clasp.profile.length) {
        clasp.profile(i) = (clasp.profile(i) + frac) / 2.0
        i += 1
      }
      var mx = Double.NegativeInfinity
      i = 0
      while (i < clasp.profile.length) { if (clasp.profile(i) > mx) mx = clasp.profile(i); i += 1 }

      if (mx > bestScore || (bestClasp == null && idx == tcs.length - 1)) {
        bestScore = mx
        bestTc = (lbound, ubound)
        bestClasp = clasp
      } else if (earlyStopping) break_ = true

      if (!break_ && earlyStopping && bestClasp != null &&
          bestClasp.split(validation, threshold).isDefined) break_ = true
      idx += 1
    }

    val canvas = Array.fill(n - windowSize + 1)(Double.NegativeInfinity)
    if (bestClasp != null) {
      System.arraycopy(bestClasp.profile, 0, canvas, bestTc._1, bestClasp.profile.length)
      new ClaSPModel(windowSize, kNeighbours, scoreName, exclRadius,
        bestClasp.knn, canvas, bestTc._1, bestTc._2)
    } else {
      new ClaSPModel(windowSize, kNeighbours, scoreName, exclRadius, knn, canvas, 0, n)
    }
  }
}
