package graft.kernel

import Scoring._

/** The array-based scores of `claspy/scoring.py`, the definition
  * [[ClaSPProfileSpec]] scores materialised labels with. Each counts and
  * then calls the count-based entry point of [[Scoring]] that the ClaSP
  * profile uses. */
object ScoringReference {

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
}
