package graft.kernel.streaming

import graft.kernel.{ClaSPModel, KSNModel, KSubsequenceNeighbours, Scoring, SplitWalk}

/** ClaSS: O(n·k)-amortized classification-score profile, a port of the
  * reference's `claspy/streaming/clasp.py` (`_profile` :346-392, `ClaSS`
  * :395-485). The reference keeps label arrays and a binary confusion
  * matrix up to date as the split advances (:59-343); here the cells come
  * from the base-vote counters of the batch profile's [[SplitWalk]], and
  * `ClaSPProfileSpec` pins the result against a per-split confusion-matrix
  * definition. The one input the two differ on, a split row listing itself
  * as a neighbour, does not occur in the engine's kNN tables (pinned by the
  * same spec): the reference keeps that vote, the walk withdraws it. */
object ClaSS {

  /** clasp.py:346-392: the profile over the splits [minSegSize,
    * n - minSegSize), -inf elsewhere. At split s the window [s, s+w) is
    * left out of the confusion matrix; the cells of label 1 count the rows
    * before s (y_true 0) and at or after s+w (y_true 1). f1 is the binary
    * macro F1 (:183-223); accuracy (:226-271) is the share of the n - w
    * counted rows predicted right, as the port has always computed it. */
  def profile(knnFlat: Array[Int], k: Int, windowSize: Int, minSegSize: Int,
      scoreName: String = "f1"): Array[Double] = {
    val isF1 = scoreName match {
      case "f1" => true
      case "accuracy" => false
      case other => throw new IllegalArgumentException(
        s"$other is not a valid score. Implementations include: f1, accuracy.")
    }
    val n = knnFlat.length / k
    val prof = Array.fill(n)(Double.NegativeInfinity)
    val end = n - minSegSize
    if (minSegSize < end) {
      val walk = new SplitWalk(knnFlat, k, windowSize, 0, minSegSize)
      while (walk.split < end) {
        val split = walk.split
        val tp = walk.atOrAfter - walk.inWindow
        val fp = walk.before
        val fn = (n - split - windowSize) - tp
        val tn = split - fp
        prof(split) =
          if (isF1) Scoring.f1FromCounts(tp, fp, fn, tn)
          else (tp + tn).toDouble / (n - windowSize)
        walk.advance()
      }
    }
    prof
  }

  /** ClaSS.fit (clasp.py:439-485) as a ClaSPModel (split/validation reuse). */
  def fit(ts: Array[Double], windowSize: Int, kNeighbours: Int,
      distanceName: String, scoreName: String, exclRadius: Int,
      knnIn: KSNModel = null): ClaSPModel = {
    val minSegSize = windowSize * exclRadius
    require(ts.length >= 2 * minSegSize,
      "Time series must at least have 2*min_seg_size data points.")
    val knn =
      if (knnIn != null) knnIn
      else new KSubsequenceNeighbours(windowSize, kNeighbours, distanceName).fit(Array(ts))
    val prof = profile(knn.offsetsFlat, knn.stride, windowSize, minSegSize, scoreName)
    new ClaSPModel(windowSize, kNeighbours, scoreName, exclRadius, knn, prof, 0, ts.length)
  }
}
