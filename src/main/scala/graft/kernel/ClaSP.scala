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
    * A row's final label is 1 inside the forced window [split-w, split) and
    * its base vote elsewhere, so every score is a function of n, split,
    * onesRight (labels 1 at or after split: the base votes there) and
    * onesLeft (labels 1 before it: base votes outside the window, plus w),
    * read off the [[SplitWalk]] counters. Scores go through the count-based
    * entry points of [[Scoring]]. */
  private def profileInto(offsetsFlat: Array[Int], k: Int, w: Int, start: Int, end: Int,
      isF1: Boolean, profile: Array[Double]): Unit = {
    // the forced window never wraps (numpy's negative indices) in this range
    require(start >= w, s"first split $start lies inside the first window ($w)")
    val walk = new SplitWalk(offsetsFlat, k, w, -w, start)
    val n = walk.n
    // the roc curve of a step score has two points past the origin
    val tps = new Array[Double](3)
    val fps = new Array[Double](3)
    while (walk.split < end) {
      val split = walk.split
      val onesRight = walk.atOrAfter
      val onesLeft = walk.before - walk.inWindow + w
      val onesTotal = onesLeft + onesRight
      profile(split) =
        if (isF1) {
          // y_true is 1 at or after split: tp, fp, fn, tn of label 1
          Scoring.f1FromCounts(onesRight, onesLeft, n - split - onesRight, split - onesLeft)
        } else {
          // y_score reversed: n-split ones, then split zeros (scoring.py:99-111)
          tps(1) = onesRight
          fps(1) = 1.0 + (n - split - 1) - onesRight
          tps(2) = onesTotal
          fps(2) = 1.0 + (n - 1) - onesTotal
          Scoring.rocAucFromCurve(tps, fps, 2)
        }
      walk.advance()
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

/** The split walk both ClaSP profiles score from: the batch one of
  * [[ClaSP]] and the streaming one of [[streaming.ClaSS]].
  *
  * At split s, y_true is 1 at or after s, and a row's base vote is the
  * strict majority of its k neighbours' y_true. Advancing the split turns
  * y_true(s) from 1 to 0, which can only take votes away, and only from
  * the reverse neighbours of s ([[CrossVal.rnn]]). So three counters of
  * base votes follow the split in O(1 + |rnn(s)|): rows before s
  * (`before`), rows at or after s (`atOrAfter`), and rows in the window of
  * w rows that starts `windowOffset` rows from s (`inWindow`). The batch
  * profile forces its window [s-w, s) to 1 (offset -w); the streaming one
  * leaves [s, s+w) out of its confusion matrix (offset 0). Each caller
  * scores a split from the counters in its own loop, so nothing is boxed
  * or allocated per split. The window must lie inside the table at every
  * split walked and at the one after the last. */
private[kernel] final class SplitWalk(offsetsFlat: Array[Int], k: Int, w: Int,
    windowOffset: Int, start: Int) {
  val n: Int = offsetsFlat.length / k
  private val (rnnOff, rnnVal) = CrossVal.rnn(offsetsFlat, k)
  // votes(i): row i's neighbours at or after the current split
  private val votes = new Array[Int](n)
  var split: Int = start
  var before = 0
  var inWindow = 0
  var atOrAfter = 0

  @inline private def base(row: Int): Int = if (votes(row) > k - votes(row)) 1 else 0

  {
    var q = rnnOff(start)
    while (q < rnnVal.length) { votes(rnnVal(q)) += 1; q += 1 }
    val wStart = start + windowOffset
    var i = 0
    while (i < n) {
      val b = base(i)
      if (i >= start) atOrAfter += b else before += b
      if (i >= wStart && i < wStart + w) inWindow += b
      i += 1
    }
  }

  /** Moves the split one row right. */
  def advance(): Unit = {
    val s = split
    val wStart = s + windowOffset
    var q = rnnOff(s)
    val qEnd = if (s + 1 < n) rnnOff(s + 1) else rnnVal.length
    while (q < qEnd) {
      val row = rnnVal(q)
      val was = base(row)
      votes(row) -= 1
      if (was != base(row)) {
        if (row >= s) atOrAfter -= 1 else before -= 1
        if (row >= wStart && row < wStart + w) inWindow -= 1
      }
      q += 1
    }
    // row s joins the rows before the split; the window slides one row
    val b = base(s)
    atOrAfter -= b
    before += b
    inWindow += base(wStart + w) - base(wStart)
    split = s + 1
  }
}
