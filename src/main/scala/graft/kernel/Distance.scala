package graft.kernel

/** Subsequence distance functions over sliding dot products.
  *
  * Semantics follow `/root/reference/claspy/distance.py`:
  * znormed_euclidean_distance (:57-85), euclidean_distance (:110-136),
  * cinvariant_euclidean_distance (:171-205) and the name registry
  * map_distances (:208-244). All distances are returned squared (the
  * reference default) — only relative order matters for the k-NN search.
  *
  * Preprocessing state is held per dimension as an opaque object so the
  * k-NN kernel can dispatch without boxing in the hot loop.
  */
sealed trait Distance extends Serializable {
  def name: String
  def preprocess(ts: Array[Double], w: Int): AnyRef
  /** Squared distance of subsequence `idx` to all subsequences, given dot products. */
  def compute(idx: Int, dot: Array[Double], w: Int, pre: AnyRef): Array[Double] = {
    val out = new Array[Double](dot.length)
    computeInto(idx, dot, w, pre, out)
    out
  }
  /** Allocation-free variant: writes into `out` (sized dot.length). */
  def computeInto(idx: Int, dot: Array[Double], w: Int, pre: AnyRef, out: Array[Double]): Unit
}

object ZNormedEuclidean extends Distance {
  val name = "znormed_euclidean_distance"
  /** (means, stds, w·means, w·stds): `w * means(j) * mi` evaluates as
    * `(w * means(j)) * mi`, so the products are taken once per fit. */
  def preprocess(ts: Array[Double], w: Int): AnyRef = {
    val (means, stds) = SlidingStats.slidingMeanStd(ts, w)
    (means, stds, means.map(w * _), stds.map(w * _))
  }
  def computeInto(idx: Int, dot: Array[Double], w: Int, pre: AnyRef, out: Array[Double]): Unit = {
    val (means, stds, wMeans, wStds) =
      pre.asInstanceOf[(Array[Double], Array[Double], Array[Double], Array[Double])]
    val mi = means(idx); val si = stds(idx)
    var j = 0
    while (j < dot.length) {
      out(j) = 2.0 * w * (1.0 - (dot(j) - wMeans(j) * mi) / (wStds(j) * si))
      j += 1
    }
  }
}

object PlainEuclidean extends Distance {
  val name = "euclidean_distance"
  def preprocess(ts: Array[Double], w: Int): AnyRef = SlidingStats.slidingCsum(ts, w)
  def computeInto(idx: Int, dot: Array[Double], w: Int, pre: AnyRef, out: Array[Double]): Unit = {
    val csumsq = pre.asInstanceOf[Array[Double]]
    val ci = csumsq(idx)
    var j = 0
    while (j < dot.length) { out(j) = -2.0 * dot(j) + csumsq(j) + ci; j += 1 }
  }
}

object CInvariantEuclidean extends Distance {
  val name = "cinvariant_euclidean_distance"
  def preprocess(ts: Array[Double], w: Int): AnyRef = SlidingStats.slidingCsumDcsum(ts, w)
  def computeInto(idx: Int, dot: Array[Double], w: Int, pre: AnyRef, out: Array[Double]): Unit = {
    val (csumsq, ce, _, _) =
      pre.asInstanceOf[(Array[Double], Array[Double], Array[Double], Array[Double])]
    val ci = csumsq(idx); val cei = ce(idx)
    var j = 0
    while (j < dot.length) {
      val ed = -2.0 * dot(j) + csumsq(j) + ci
      val cf = math.max(ce(j), cei) / math.min(ce(j), cei)
      out(j) = ed * cf
      j += 1
    }
  }
}

object Distance {
  val all: Map[String, Distance] = Map(
    ZNormedEuclidean.name -> ZNormedEuclidean,
    PlainEuclidean.name -> PlainEuclidean,
    CInvariantEuclidean.name -> CInvariantEuclidean
  )
  def byName(name: String): Distance =
    all.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a valid distance. Implementations include: ${all.keys.mkString(", ")}"))
}
