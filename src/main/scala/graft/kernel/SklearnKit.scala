package graft.kernel

/** Faithful reimplementations of the three sklearn pieces the reference's
  * CLaP/state-detection layer calls (`/root/reference/claspy/clap.py:10-11`,
  * `/root/reference/claspy/state_detection.py:7`). Public, well-documented
  * semantics — replicated exactly so the merge loop is bit-comparable with
  * the reference run in tools/gen_golden.py.
  */
object SklearnKit {

  /** `KFold(n_splits, shuffle=True, random_state=seed).split(X)` — sklearn
    * shuffles arange(n) with `RandomState(seed).shuffle`, slices it into
    * n%k folds of size n/k+1 then k-n%k of size n/k, and yields BOTH train
    * and test indices ascending (they pass through a boolean mask). */
  def kfoldShuffled(n: Int, nSplits: Int, seed: Long): Array[(Array[Int], Array[Int])] = {
    val indices = new NumpyRandom(seed).permutation(n)
    val foldSizes = Array.tabulate(nSplits)(i => n / nSplits + (if (i < n % nSplits) 1 else 0))
    val out = new Array[(Array[Int], Array[Int])](nSplits)
    var current = 0
    var f = 0
    while (f < nSplits) {
      val mask = new Array[Boolean](n)
      var i = 0
      while (i < foldSizes(f)) { mask(indices(current + i)) = true; i += 1 }
      val test = new Array[Int](foldSizes(f))
      val train = new Array[Int](n - foldSizes(f))
      var ti = 0; var ri = 0; var k = 0
      while (k < n) {
        if (mask(k)) { test(ti) = k; ti += 1 } else { train(ri) = k; ri += 1 }
        k += 1
      }
      out(f) = (train, test)
      current += foldSizes(f)
      f += 1
    }
    out
  }

  /** Sorted distinct labels present in y_true or y_pred (sklearn's
    * `unique_labels` for two int arrays). */
  def unionLabels(yTrue: Array[Int], yPred: Array[Int]): Array[Int] = {
    val s = scala.collection.mutable.SortedSet.empty[Int]
    yTrue.foreach(s += _); yPred.foreach(s += _)
    s.toArray
  }

  /** `confusion_matrix(y_true, y_pred)`: rows/cols indexed by the sorted
    * union labels; C(i)(j) = count(true=labels(i) ∧ pred=labels(j)). */
  def confusionMatrix(yTrue: Array[Int], yPred: Array[Int]): (Array[Int], Array[Array[Long]]) = {
    val labels = unionLabels(yTrue, yPred)
    val index = labels.zipWithIndex.toMap
    val cm = Array.ofDim[Long](labels.length, labels.length)
    var i = 0
    while (i < yTrue.length) {
      cm(index(yTrue(i)))(index(yPred(i))) += 1
      i += 1
    }
    (labels, cm)
  }

  /** `f1_score(y_true, y_pred, average="macro")` with the default
    * zero_division behavior (degenerate precision/recall/f1 -> 0), averaged
    * over the sorted union labels. NOTE: distinct from
    * [[Scoring.f1FromCounts]], whose -inf guards mirror claspy's own binary
    * scorer. */
  def f1Macro(yTrue: Array[Int], yPred: Array[Int]): Double = {
    val labels = unionLabels(yTrue, yPred)
    var total = 0.0
    var li = 0
    while (li < labels.length) {
      val l = labels(li)
      var tp = 0L; var fp = 0L; var fn = 0L
      var i = 0
      while (i < yTrue.length) {
        val t = yTrue(i) == l
        val p = yPred(i) == l
        if (t && p) tp += 1
        else if (!t && p) fp += 1
        else if (t && !p) fn += 1
        i += 1
      }
      val pre = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
      val re = if (tp + fn > 0) tp.toDouble / (tp + fn) else 0.0
      total += (if (pre + re > 0) 2.0 * pre * re / (pre + re) else 0.0)
      li += 1
    }
    total / labels.length
  }
}
