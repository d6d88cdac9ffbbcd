package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** The batch ClaSP profile, which follows reverse-kNN vote counts from split
  * to split, against the definition: materialise the labels of every split
  * with `CrossVal.labelsInto` and score them with
  * `ScoringReference.byName`. Every profile entry must match bit for bit
  * (`doubleToRawLongBits`), including the -inf outside the evaluated
  * splits. The streaming ClaSS profile, which walks the same counters, is
  * pinned the same way against a per-split confusion matrix. */
class ClaSPProfileSpec extends AnyFunSuite {

  private val scores = Seq("roc_auc", "f1")

  /** Profile by definition over [start, end), -inf elsewhere (clasp.py:14-46). */
  private def referenceProfile(knn: KSNModel, w: Int, exclRadius: Int, score: String): Array[Double] = {
    val nOff = knn.nOffsets
    val minSegSize = w * exclRadius
    val prof = Array.fill(nOff)(Double.NegativeInfinity)
    val yTrue = new Array[Int](nOff)
    val yPred = new Array[Int](nOff)
    val scoreFn = ScoringReference.byName(score)
    var split = math.max(0, minSegSize)
    while (split < math.min(nOff, nOff - minSegSize + w)) {
      CrossVal.labelsInto(knn.offsetsFlat, knn.stride, split, w, yTrue, yPred)
      prof(split) = scoreFn(yTrue, yPred)
      split += 1
    }
    prof
  }

  private def assertBitIdentical(got: Array[Double], want: Array[Double], clue: String): Unit = {
    assert(got.length == want.length, clue)
    var i = 0
    while (i < got.length) {
      if (java.lang.Double.doubleToRawLongBits(got(i)) != java.lang.Double.doubleToRawLongBits(want(i)))
        fail(s"$clue: profile($i) = ${got(i)}, expected ${want(i)}")
      i += 1
    }
  }

  private def fitProfile(ts: Array[Double], knn: KSNModel, w: Int, k: Int, exclRadius: Int,
      score: String): Array[Double] =
    ClaSP.fit(Array(ts), w, k, "znormed_euclidean_distance", score, exclRadius, knn).profile

  /** Three shapes: sine with a frequency step, white noise, and a coarsely
    * quantised sine whose repeated windows give many distance ties. */
  private def series(rng: java.util.Random, n: Int): Array[Double] = rng.nextInt(3) match {
    case 0 =>
      val cp = n / 4 + rng.nextInt(n / 2)
      val (f1, f2) = (0.05 + 0.2 * rng.nextDouble(), 0.05 + 0.2 * rng.nextDouble())
      Array.tabulate(n)(i => math.sin(i * (if (i < cp) f1 else f2)) + 0.1 * rng.nextGaussian())
    case 1 => Array.fill(n)(rng.nextGaussian())
    case _ =>
      val f = 0.05 + 0.3 * rng.nextDouble()
      Array.tabulate(n)(i => math.rint(2.0 * math.sin(i * f) + 0.3 * rng.nextGaussian()))
  }

  test("profile equals per-split labels + score on 320 seeded series (bit for bit)") {
    val rng = new java.util.Random(20261017L)
    var cases = 0
    while (cases < 320) {
      val w = 3 + rng.nextInt(30)
      val k = 1 + rng.nextInt(4)
      val exclRadius = k + 1 + rng.nextInt(2)
      val lo = math.max(2 * w * exclRadius, w * k)
      // mostly short series with a tail up to 4000 points
      val u = rng.nextDouble()
      val n = lo + (u * u * (4000 - lo)).toInt
      val ts = series(rng, n)
      val knn = new KSubsequenceNeighbours(w, k).fit(Array(ts))
      for (score <- scores)
        assertBitIdentical(fitProfile(ts, knn, w, k, exclRadius, score),
          referenceProfile(knn, w, exclRadius, score), s"case $cases n=$n w=$w k=$k excl=$exclRadius $score")
      cases += 1
    }
  }

  test("ensemble-constrained tables (rebased offsets) match too") {
    val rng = new java.util.Random(7L)
    for (c <- 0 until 10) {
      val (w, k, exclRadius) = (4 + rng.nextInt(12), 3, 5)
      val n = 3 * w * exclRadius + 200 + rng.nextInt(800)
      val ts = series(rng, n)
      val tcs = ClaSP.temporalConstraints(n, 10, w * exclRadius, 2357L + c)
      val knn = new KSubsequenceNeighbours(w, k).fit(Array(ts), tcs)
      for ((lb, ub) <- tcs; score <- scores) {
        val sub = knn.constrain(lb, ub)
        val got = ClaSP.fit(Array(ts.slice(lb, ub)), w, k, "znormed_euclidean_distance", score,
          exclRadius, sub).profile
        assertBitIdentical(got, referenceProfile(sub, w, exclRadius, score), s"case $c tc=($lb,$ub) $score")
      }
    }
  }

  /** A hand-built single-constraint model over `rows` windows. */
  private def tableModel(w: Int, k: Int, rows: Int, offsets: Array[Int], tcs: Int = 1): KSNModel = {
    val n = rows + w - 1
    new KSNModel(w, k, "znormed_euclidean_distance", n, Array.fill(tcs)((0, n)),
      new Array[Double](offsets.length), offsets)
  }

  test("first and last evaluated split, -inf outside them") {
    val (w, k, exclRadius) = (5, 3, 4)
    val rng = new java.util.Random(3L)
    val ts = series(rng, 400)
    val knn = new KSubsequenceNeighbours(w, k).fit(Array(ts))
    val nOff = knn.nOffsets
    val (start, end) = (w * exclRadius, nOff - w * exclRadius + w)
    for (score <- scores) {
      val got = fitProfile(ts, knn, w, k, exclRadius, score)
      val want = referenceProfile(knn, w, exclRadius, score)
      assertBitIdentical(got, want, score)
      assert(got(start - 1) == Double.NegativeInfinity && got(end) == Double.NegativeInfinity)
      for (split <- Seq(start, end - 1)) {
        val (yTrue, yPred) = CrossVal.labels(knn.offsetsFlat, knn.stride, split, w)
        assertBitIdentical(Array(got(split)), Array(ScoringReference.byName(score)(yTrue, yPred)), s"$score split $split")
      }
      // f1 is -inf at the last split here (too few right-hand windows); the
      // roc curve is proper at both ends
      if (score == "roc_auc") assert(!got(start).isInfinite && !got(end - 1).isInfinite)
    }
  }

  test("votes that never change: constant tables give -inf or flat degenerate profiles") {
    val (w, k, exclRadius, rows) = (4, 3, 5, 120)
    val ts = new Array[Double](rows + w - 1)
    // every neighbour is the last row: y_true 1 at every split, so every
    // label is 1 and both scores are degenerate (-inf)
    val allLast = tableModel(w, k, rows, Array.fill(rows * k)(rows - 1))
    // every neighbour is row 0: votes stay 0, only the forced window is 1
    val allFirst = tableModel(w, k, rows, Array.fill(rows * k)(0))
    for (score <- scores) {
      val last = fitProfile(ts, allLast, w, k, exclRadius, score)
      assertBitIdentical(last, referenceProfile(allLast, w, exclRadius, score), s"all-last $score")
      assert(last.forall(_ == Double.NegativeInfinity), s"all-last $score")
      assertBitIdentical(fitProfile(ts, allFirst, w, k, exclRadius, score),
        referenceProfile(allFirst, w, exclRadius, score), s"all-first $score")
    }
  }

  test("votes count over the whole row when stride > k (several constraints)") {
    val rng = new java.util.Random(11L)
    for (c <- 0 until 40) {
      val (w, k, exclRadius) = (3 + rng.nextInt(8), 1 + rng.nextInt(3), 5)
      val tcs = 2 + rng.nextInt(2)
      val rows = 2 * w * exclRadius + rng.nextInt(300)
      // random offsets with repeats (multiplicity in the reverse index)
      val offs = Array.fill(rows * k * tcs)(rng.nextInt(rows))
      val model = tableModel(w, k, rows, offs, tcs)
      assert(model.stride == k * tcs)
      val ts = new Array[Double](rows + w - 1)
      for (score <- scores)
        assertBitIdentical(fitProfile(ts, model, w, k, exclRadius, score),
          referenceProfile(model, w, exclRadius, score), s"case $c stride=${model.stride} $score")
    }
  }

  /** ClaSS's profile by definition (claspy/streaming/clasp.py:346-392),
    * -inf outside the splits [minSegSize, n - minSegSize): at split s,
    * y_true is 1 from s on, each row predicts the strict majority of its
    * neighbours' y_true, and the confusion matrix counts only the rows
    * outside the window [s, s+w). */
  private def classReference(knnFlat: Array[Int], k: Int, w: Int, minSegSize: Int,
      score: String): Array[Double] = {
    val n = knnFlat.length / k
    val prof = Array.fill(n)(Double.NegativeInfinity)
    var s = minSegSize
    while (s < n - minSegSize) {
      var tp, fp, fn, tn = 0L
      var i = 0
      while (i < n) {
        if (i < s || i >= s + w) {
          var ones = 0
          var j = 0
          while (j < k) { if (knnFlat(i * k + j) >= s) ones += 1; j += 1 }
          val pred = ones > k - ones
          if (i >= s) { if (pred) tp += 1 else fn += 1 }
          else { if (pred) fp += 1 else tn += 1 }
        }
        i += 1
      }
      val total = tp + fp + fn + tn
      prof(s) = score match {
        case "f1" => Scoring.f1FromCounts(tp, fp, fn, tn)
        case "accuracy" => if (total == 0) Double.NegativeInfinity else (tp + tn).toDouble / total
      }
      s += 1
    }
    prof
  }

  /** Rows in the split range that list themselves as a neighbour. */
  private def selfListedSplitRows(knnFlat: Array[Int], k: Int, minSegSize: Int): Seq[Int] = {
    val n = knnFlat.length / k
    (minSegSize until n - minSegSize).filter(s => (0 until k).exists(j => knnFlat(s * k + j) == s))
  }

  test("ClaSS profile equals a per-split confusion-matrix reference") {
    val rng = new java.util.Random(20261021L)
    var tables = 0
    def check(knnFlat: Array[Int], k: Int, w: Int, minSegSize: Int, clue: String): Unit = {
      for (score <- Seq("f1", "accuracy"))
        assertBitIdentical(streaming.ClaSS.profile(knnFlat, k, w, minSegSize, score),
          classReference(knnFlat, k, w, minSegSize, score), s"$clue $score")
      tables += 1
    }
    // the tables the streaming detector scores: StreamingKSN snapshots of
    // seeded series, taken every few points once two segments fit
    val shapes = Seq("constant", "spike", "sine", "noise", "step", "quantised", "periodic")
    for (c <- 0 until 28) {
      val shape = shapes(c % shapes.length)
      val (w, k) = (3 + rng.nextInt(10), 1 + rng.nextInt(3))
      val minSegSize = 5 * w
      val nTimepoints = 2 * minSegSize + 40 + rng.nextInt(200)
      val f = 0.05 + 0.3 * rng.nextDouble()
      val len = nTimepoints + 200
      val ts = Array.tabulate(len) { i =>
        shape match {
          case "constant" => 1.0
          case "spike" => if (i % 97 == 13) 5.0 else 0.0
          case "sine" => math.sin(i * f)
          case "noise" => rng.nextGaussian()
          case "step" => (if (i < len / 2) 0.0 else 3.0) + 0.1 * rng.nextGaussian()
          case "quantised" => math.rint(2.0 * math.sin(i * f) + 0.3 * rng.nextGaussian())
          case _ => (i % (4 + c % 9)).toDouble
        }
      }
      val sksn = new streaming.StreamingKSN(nTimepoints, w, k)
      for (i <- ts.indices) {
        sksn.update(ts(i))
        if (i % 7 == 0 && sksn.knnInsertIdx - sksn.lbound >= 2 * minSegSize) {
          val t = sksn.transform()
          assert(selfListedSplitRows(t.offsetsFlat, t.stride, minSegSize).isEmpty,
            s"streamed $shape case $c at $i lists a split row as its own neighbour")
          check(t.offsetsFlat, t.stride, w, minSegSize, s"streamed $shape case $c at $i w=$w k=$k")
        }
      }
    }
    // fitted tables
    for (c <- 0 until 40) {
      val (w, k) = (3 + rng.nextInt(20), 1 + rng.nextInt(4))
      val minSegSize = 5 * w
      val ts = series(rng, 2 * minSegSize + w + rng.nextInt(600))
      val knn = new KSubsequenceNeighbours(w, k).fit(Array(ts))
      assert(selfListedSplitRows(knn.offsetsFlat, knn.stride, minSegSize).isEmpty,
        s"fitted case $c lists a split row as its own neighbour")
      check(knn.offsetsFlat, knn.stride, w, minSegSize, s"fitted case $c w=$w k=$k")
    }
    // hand-built tables with repeats and no row listing itself
    for (c <- 0 until 60) {
      val (w, k) = (3 + rng.nextInt(20), 1 + rng.nextInt(4))
      val minSegSize = 5 * w
      val rows = 2 * minSegSize + 1 + rng.nextInt(300)
      val offs = Array.tabulate(rows * k) { p =>
        val o = rng.nextInt(rows - 1)
        if (o >= p / k) o + 1 else o
      }
      check(offs, k, w, minSegSize, s"hand-built case $c w=$w k=$k rows=$rows")
    }
    assert(tables > 300, s"only $tables tables")
  }

  test("a -1 offset (missing neighbour) throws on both paths") {
    val (w, k, exclRadius, rows) = (4, 3, 5, 100)
    val rng = new java.util.Random(5L)
    val offs = Array.fill(rows * k)(rng.nextInt(rows))
    offs(37 * k + 2) = -1
    val model = tableModel(w, k, rows, offs)
    val ts = new Array[Double](rows + w - 1)
    for (score <- scores) {
      val got = intercept[ArrayIndexOutOfBoundsException](fitProfile(ts, model, w, k, exclRadius, score))
      val want = intercept[ArrayIndexOutOfBoundsException](referenceProfile(model, w, exclRadius, score))
      assert(got.getMessage == want.getMessage)
    }
  }
}
