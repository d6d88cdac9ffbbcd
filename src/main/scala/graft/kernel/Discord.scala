package graft.kernel

/** Matrix-profile discord discovery (public method: Keogh et al.'s HOT SAX
  * discords, ICDM 2005; matrix-profile formulation per Yeh et al., ICDM
  * 2016): a series' most anomalous subsequences are those whose distance
  * to their nearest non-trivial neighbour is LARGEST. The 1-NN table is
  * the reference-exact kNN self-join kernel ([[KSubsequenceNeighbours]]
  * with k=1 — z-normed squared distances, w/2 exclusion-zone row-max
  * masking, first-index-wins ties, `nearest_neighbour.py` semantics), so
  * the discord profile falls out of machinery ClaSP already exercises. */
object Discord {

  /** Top-`top` discords of one series: (startIdx, squared 1-NN distance)
    * in descending distance order. Picked discords are kept at least
    * `windowSize` apart so the top-k are k distinct anomalies rather than
    * one anomaly's overlapping windows (the standard non-overlap
    * constraint). Deterministic: distance ties break on the lower start
    * index. Series shorter than 2·windowSize return no discords (every
    * subsequence would sit inside every other's exclusion zone). */
  def discords(ts: Array[Double], windowSize: Int, top: Int = 1): Array[(Int, Double)] = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    require(top >= 1, s"top must be >= 1, got $top")
    if (ts.length < 2 * windowSize) return Array.empty
    val w = windowSize
    val model = new KSubsequenceNeighbours(w, 1).fit(Array(ts))
    // the model's stored distances are z-scored PER ROW (reference
    // semantics — nearest_neighbour.py:204-205), a monotone transform, so
    // offsetsFlat(i) is still the raw-distance argmin; recompute the RAW
    // squared z-normed distance to that one neighbour (one w-length dot
    // each, O(l·w) total) for a comparable anomaly score across rows.
    val off = model.offsetsFlat
    val (means, stds) = SlidingStats.slidingMeanStd(ts, w)
    val d = Array.tabulate(off.length) { i =>
      val j = off(i)
      if (j < 0) Double.NegativeInfinity
      else {
        var s = 0.0; var t = 0
        while (t < w) { s += ts(i + t) * ts(j + t); t += 1 }
        // ZNormedEuclidean.computeInto's formula for a single (i, j) pair
        2.0 * w * (1.0 - (s - w * means(j) * means(i)) / (w * stds(j) * stds(i)))
      }
    }
    val order = Array.range(0, d.length).sortBy(i => (-d(i), i))
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var oi = 0
    while (oi < order.length && picked.size < top) {
      val i = order(oi)
      if (d(i) > Double.NegativeInfinity &&
          picked.forall(p => math.abs(p._1 - i) >= w))
        picked += ((i, d(i)))
      oi += 1
    }
    picked.toArray
  }
}
