package graft.kernel

/** Hypothetical-split cross-validation labels from the k-NN table.
  *
  * Semantics follow `cross_val_labels` in
  * `/root/reference/claspy/nearest_neighbour.py:280-323`: y_true is the step
  * function at the split; y_pred is the majority vote of each window's k
  * nearest neighbours' y_true (ties -> 0, strict `ones > zeros`); the
  * exclusion zone [split-w, split) is forced to 1.
  */
object CrossVal {

  /** Fills the provided arrays (each sized n = offsetsFlat.length / k) with
    * the labels of one split. `offsetsFlat` is the FLAT (n × k) kNN table.
    * This is the definition the ClaSP profile reproduces; the profile itself
    * follows vote counts through [[rnn]] instead of relabelling per split. */
  def labelsInto(offsetsFlat: Array[Int], k: Int, splitIdx: Int, windowSize: Int,
      yTrue: Array[Int], yPred: Array[Int]): Unit = {
    val n = offsetsFlat.length / k
    var i = 0
    while (i < splitIdx) { yTrue(i) = 0; i += 1 }
    while (i < n) { yTrue(i) = 1; i += 1 }
    i = 0
    var base = 0
    while (i < n) {
      var ones = 0
      var j = 0
      while (j < k) { ones += yTrue(offsetsFlat(base + j)); j += 1 }
      yPred(i) = if (ones > k - ones) 1 else 0
      base += k
      i += 1
    }
    i = splitIdx - windowSize
    while (i < splitIdx) {
      val idx = if (i < 0) n + i else i
      if (idx >= 0 && idx < n) yPred(idx) = 1
      i += 1
    }
  }

  /** Exclusion-zone semantics per nearest_neighbour.py:320-321; numpy
    * negative indices wrap — replicated for splitIdx < windowSize. */
  def labels(offsetsFlat: Array[Int], k: Int, splitIdx: Int, windowSize: Int): (Array[Int], Array[Int]) = {
    val n = offsetsFlat.length / k
    val yTrue = new Array[Int](n)
    val yPred = new Array[Int](n)
    labelsInto(offsetsFlat, k, splitIdx, windowSize, yTrue, yPred)
    (yTrue, yPred)
  }

  /** CSR reverse-nearest-neighbour index over the FLAT (n × k) kNN table
    * (`_rnn`, claspy/streaming/clasp.py:9-56): the rows
    * whose neighbours include row j are `values(offsets(j) until
    * offsets(j + 1))` (the last row's run ends at `values.length`), in
    * ascending row order, a row repeated once per occurrence. An offset
    * outside [0, n), such as ArgKMin's -1 for a missing neighbour, throws
    * ArrayIndexOutOfBoundsException. */
  def rnn(knnFlat: Array[Int], k: Int): (Array[Int], Array[Int]) = {
    val n = knnFlat.length / k
    val offsets = new Array[Int](n)
    val values = new Array[Int](n * k)
    val counts = new Array[Int](n)
    val counters = new Array[Int](n)
    var p = 0
    while (p < knnFlat.length) { counts(knnFlat(p)) += 1; p += 1 }
    var i = 1
    while (i < n) { offsets(i) = offsets(i - 1) + counts(i - 1); i += 1 }
    i = 0
    p = 0
    while (i < n) {
      var j = 0
      while (j < k) {
        val nn = knnFlat(p)
        values(offsets(nn) + counters(nn)) = i
        counters(nn) += 1
        j += 1; p += 1
      }
      i += 1
    }
    (offsets, values)
  }
}
