package graft.kernel.streaming

import graft.kernel.{ClaSPModel, CrossVal, KSNModel, KSubsequenceNeighbours, Scoring}

/** ClaSS: O(n·k)-amortized classification-score profile via a reverse-NN
  * index and an incrementally-updated binary confusion matrix. Faithful port
  * of the reference's `claspy/streaming/clasp.py`: `_rnn` (:9-56, shared
  * with the batch profile as [[CrossVal.rnn]]),
  * `_init_labels` (:59-108), conf-matrix init/update (:111-180),
  * `_binary_macro_f1_score` / `_binary_balanced_accuracy_score` (:183-271),
  * `_update_labels` (:274-343), `_profile` (:346-392), `ClaSS` (:395-485). */
object ClaSS {

  /** clasp.py:59-108: (zeros, ones) k-NN vote counts, y_true, y_pred. */
  def initLabels(knnFlat: Array[Int], k: Int, splitIdx: Int)
      : (Array[Int], Array[Int], Array[Int], Array[Int]) = {
    val n = knnFlat.length / k
    val yTrue = new Array[Int](n)
    var i = splitIdx
    while (i < n) { yTrue(i) = 1; i += 1 }
    val ones = new Array[Int](n)
    val zeros = new Array[Int](n)
    val yPred = new Array[Int](n)
    i = 0
    var base = 0
    while (i < n) {
      var o = 0
      var j = 0
      while (j < k) { o += yTrue(knnFlat(base + j)); j += 1 }
      ones(i) = o
      zeros(i) = k - o
      yPred(i) = if (o > k - o) 1 else 0
      base += k
      i += 1
    }
    (zeros, ones, yTrue, yPred)
  }

  /** clasp.py:111-144: 4-cell conf matrix [tp, fp, fn, tn] for label 0. */
  def initConfMatrix(yTrue: Array[Int], yPred: Array[Int], from: Int, until: Int): Array[Long] = {
    val cm = new Array[Long](4)
    var i = from
    while (i < until) {
      val t = yTrue(i); val p = yPred(i)
      if (t == 0 && p == 0) cm(0) += 1
      else if (t == 1 && p == 0) cm(1) += 1
      else if (t == 0 && p == 1) cm(2) += 1
      else cm(3) += 1
      i += 1
    }
    cm
  }

  /** clasp.py:147-180: subtract old (true, pred) pair, add new pair. */
  @inline def updateConfMatrix(cm: Array[Long], oldT: Int, oldP: Int, newT: Int, newP: Int): Unit = {
    cm(0) -= (if (oldT == 0 && oldP == 0) 1 else 0) - (if (newT == 0 && newP == 0) 1 else 0)
    cm(1) -= (if (oldT == 1 && oldP == 0) 1 else 0) - (if (newT == 1 && newP == 0) 1 else 0)
    cm(2) -= (if (oldT == 0 && oldP == 1) 1 else 0) - (if (newT == 0 && newP == 1) 1 else 0)
    cm(3) -= (if (oldT == 1 && oldP == 1) 1 else 0) - (if (newT == 1 && newP == 1) 1 else 0)
  }

  /** clasp.py:183-223; `cm` is label 0's [tp, fp, fn, tn], i.e. label 1's
    * [tn, fn, fp, tp]. */
  def binaryMacroF1(cm: Array[Long]): Double =
    Scoring.f1FromCounts(cm(3), cm(2), cm(1), cm(0))

  /** clasp.py:226-271. */
  def binaryBalancedAccuracy(cm: Array[Long]): Double = {
    val total = cm(0) + cm(1) + cm(2) + cm(3)
    if (total == 0) return Double.NegativeInfinity
    // symmetric: both label views share the same accuracy
    (cm(0) + cm(3)).toDouble / total
  }

  /** clasp.py:274-343: O(1+|rnn(split)|) label/conf update as the split
    * advances one position. Mutates all passed state. */
  def updateLabels(
      splitIdx: Int, exclStart: Int, exclEnd: Int,
      rnnOffsets: Array[Int], rnnValues: Array[Int],
      knnZeros: Array[Int], knnOnes: Array[Int],
      yTrue: Array[Int], yPred: Array[Int], cm: Array[Long]): Unit = {
    val from = rnnOffsets(splitIdx)
    val until = if (splitIdx + 1 < rnnOffsets.length) rnnOffsets(splitIdx + 1) else from
    var i = from
    // reverse neighbours of the split, then the split itself
    while (i <= until) {
      val pos = if (i < until) rnnValues(i) else splitIdx
      if (pos != splitIdx) {
        knnZeros(pos) += 1
        knnOnes(pos) -= 1
      }
      val inExcl = pos >= exclStart && pos < exclEnd
      val label = if (knnZeros(pos) < knnOnes(pos)) 1 else 0
      if (!inExcl) updateConfMatrix(cm, yTrue(pos), yPred(pos), yTrue(pos), label)
      yPred(pos) = label
      i += 1
    }
    yTrue(splitIdx) = 0
    // slide the exclusion zone right: excl_end enters (remove), excl_start leaves (add back)
    updateConfMatrix(cm, yTrue(exclEnd), yPred(exclEnd), yTrue(exclStart), yPred(exclStart))
  }

  /** clasp.py:346-392: the amortized-linear profile. */
  def profile(knnFlat: Array[Int], k: Int, windowSize: Int, minSegSize: Int,
      scoreName: String = "f1"): Array[Double] = {
    val n = knnFlat.length / k
    val prof = Array.fill(n)(Double.NegativeInfinity)
    val (rnnOff, rnnVal) = CrossVal.rnn(knnFlat, k)
    val (zeros, ones, yTrue, yPred) = initLabels(knnFlat, k, minSegSize)
    val cm = initConfMatrix(yTrue, yPred, 0, n)
    var exclStart = minSegSize
    var exclEnd = minSegSize + windowSize
    val exclCm = initConfMatrix(yTrue, yPred, exclStart, exclEnd)
    var c = 0
    while (c < 4) { cm(c) -= exclCm(c); c += 1 }
    val score: Array[Long] => Double = scoreName match {
      case "f1" => binaryMacroF1
      case "accuracy" => binaryBalancedAccuracy
      case other => throw new IllegalArgumentException(
        s"$other is not a valid score. Implementations include: f1, accuracy.")
    }
    var split = minSegSize
    while (split < n - minSegSize) {
      prof(split) = score(cm)
      updateLabels(split, exclStart, exclEnd, rnnOff, rnnVal, zeros, ones, yTrue, yPred, cm)
      exclStart += 1
      exclEnd += 1
      split += 1
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
