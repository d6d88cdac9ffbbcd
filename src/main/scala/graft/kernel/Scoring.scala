package graft.kernel

/** Binary-classification scores used by the ClaSP profile.
  *
  * Semantics follow `/root/reference/claspy/scoring.py`: f1_score (:5-57,
  * macro-averaged with -inf on degenerate precision/recall denominators) and
  * roc_auc_score (:60-139, incl. the reversed-index trick, distinct-threshold
  * extraction, trapezoid area and every -inf/NaN edge case).
  *
  * NOTE the argument convention: the profile calls `score(y_true, y_pred)`
  * (clasp.py:43-44); for roc_auc the first argument lands in `y_score` —
  * i.e. the step function is used as the score and the k-NN vote as the
  * truth, exactly like the reference.
  *
  * Each score has a count-based entry point ([[f1FromCounts]],
  * [[rocAucFromCurve]]) holding all of its floating-point arithmetic. The
  * array-based scores only count and then call it, so the incremental ClaSP
  * profile, which keeps the counts up to date per split instead of
  * materialising label arrays, gets bit-identical scores.
  */
object Scoring {

  type Score = (Array[Int], Array[Int]) => Double

  def byName(name: String): Score = name match {
    case "f1" => f1Score
    case "roc_auc" => rocAucScore
    case other => throw new IllegalArgumentException(
      s"$other is not a valid score. Implementations include: f1, roc_auc")
  }

  /** Macro-averaged binary F1 with -inf degenerate guards (scoring.py:38-57). */
  def f1Score(yTrue: Array[Int], yPred: Array[Int]): Double = {
    // cells of the binary confusion matrix, (true, pred)
    var c00 = 0L; var c01 = 0L; var c10 = 0L; var c11 = 0L
    var i = 0
    while (i < yTrue.length) {
      val t = yTrue(i) == 1
      val p = yPred(i) == 1
      if (t) { if (p) c11 += 1 else c10 += 1 }
      else { if (p) c01 += 1 else c00 += 1 }
      i += 1
    }
    f1FromCounts(c11, c01, c10, c00)
  }

  /** Macro F1 from the binary confusion matrix, counted with label 1 as the
    * positive class. Label 0 is scored first, with the roles swapped. */
  def f1FromCounts(tp1: Long, fp1: Long, fn1: Long, tn1: Long): Double = {
    var total = 0.0
    var label = 0
    while (label <= 1) {
      val tp = if (label == 0) tn1 else tp1
      val fp = if (label == 0) fn1 else fp1
      val fn = if (label == 0) fp1 else fn1
      if (tp + fp == 0 || tp + fn == 0) return Double.NegativeInfinity
      val pr = tp.toDouble / (tp + fp)
      val re = tp.toDouble / (tp + fn)
      if (pr + re == 0) return Double.NegativeInfinity
      total += 2.0 * (pr * re) / (pr + re)
      label += 1
    }
    total / 2.0
  }

  /** ROC AUC — first arg is y_score, second y_true (scoring.py:60-139). */
  def rocAucScore(yScoreIn: Array[Int], yTrueIn: Array[Int]): Double = {
    val n = yScoreIn.length
    // reversed views (desc_score_indices = arange(n)[::-1], scoring.py:99)
    @inline def yScore(i: Int): Int = yScoreIn(n - 1 - i)
    @inline def yTrue(i: Int): Boolean = yTrueIn(n - 1 - i) == 1

    // distinct-threshold indices: where diff(y_score) != 0, plus n-1 (scoring.py:107-111)
    val thresholds = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n - 1) { if (yScore(i + 1) != yScore(i)) { thresholds(m) = i; m += 1 }; i += 1 }
    thresholds(m) = n - 1
    m += 1

    val tps = new Array[Double](m + 1)
    val fps = new Array[Double](m + 1)
    var cum = 0L
    var ti = 0
    i = 0
    while (i < n && ti < m) {
      if (yTrue(i)) cum += 1
      if (i == thresholds(ti)) {
        tps(ti + 1) = cum.toDouble
        fps(ti + 1) = 1.0 + thresholds(ti) - cum
        ti += 1
      }
      i += 1
    }
    rocAucFromCurve(tps, fps, m)
  }

  /** ROC AUC of a curve given by cumulative counts (scoring.py:113-139):
    * point 0 is the origin, and at each of the `m` distinct thresholds
    * point t has `tps(t)` true and `fps(t)` false positives. */
  def rocAucFromCurve(tps: Array[Double], fps: Array[Double], m: Int): Double = {
    if (fps(m) <= 0 || tps(m) <= 0) return Double.NegativeInfinity
    val fprLast = fps(m); val tprLast = tps(m)
    // fpr has m+1 >= 2 points here; monotonicity check on fpr (scoring.py:129-136)
    var anyNeg = false; var allNonPos = true
    var i = 0
    while (i < m) {
      val dx = fps(i + 1) / fprLast - fps(i) / fprLast
      if (dx < 0) anyNeg = true
      if (dx > 0) allNonPos = false
      i += 1
    }
    val direction = if (anyNeg) { if (allNonPos) -1.0 else return Double.NegativeInfinity } else 1.0
    var area = 0.0
    i = 0
    while (i < m) {
      val x0 = fps(i) / fprLast; val x1 = fps(i + 1) / fprLast
      val y0 = tps(i) / tprLast; val y1 = tps(i + 1) / tprLast
      area += (x1 - x0) * (y0 + y1) / 2.0
      i += 1
    }
    direction * area
  }
}
