package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** One event of a chunked segmented scan ([[AnalyticsOps.segmentedScan]]):
  * its series key, time chunk and (ts, tie) place in the chunk. */
private[ops] sealed trait ChunkRow extends Product {
  def key: String; def bucket: Long; def ts: Long; def tie: Long
}
private[ops] final case class ValueRow(key: String, bucket: Long, ts: Long,
    tie: Long, value: Double) extends ChunkRow
/** `vc` is the value in integer cents. */
private[ops] final case class CentsRow(key: String, bucket: Long, ts: Long,
    tie: Long, value: Double, vc: Long) extends ChunkRow
private[ops] final case class TickRow(key: String, bucket: Long, ts: Long,
    tie: Long) extends ChunkRow

/** The additive Holt-Winters recurrence, one value at a time, from a
  * (level, trend, seasonal ring) state — the exact sequential walk of
  * [[AnalyticsOps.holtWinters]]' chunks and of
  * [[graft.streaming.StreamStage.holtWintersStream]]'s drained prefixes.
  * `q((rot + j − 1) mod m)` holds the seasonal of lag j. */
private[graft] final class HoltWintersWalk(alpha: Double, betaT: Double,
    gamma: Double, var l: Double, var b: Double, val q: Array[Double],
    var rot: Int) {
  private val m = q.length

  /** Applies value `x`; returns its updated seasonal s_t. */
  def step(x: Double): Double = {
    val qmIdx = (rot + m - 1) % m
    val qm = q(qmIdx)
    val lPrev = l
    l = (1 - alpha) * (l + b) + alpha * (x - qm)
    b = betaT * (l - lPrev) + (1 - betaT) * b
    val s = gamma * (x - l) + (1 - gamma) * qm
    q(qmIdx) = s
    rot = qmIdx // the written slot is now the seasonal of lag 1
    s
  }

  /** The one-step forecast l_t + b_t + s_{t+1−m}. */
  def forecast: Double = l + b + q((rot + m - 1) % m)
}

/** Per-series derivative/outlier/histogram analytics — the PromQL-style
  * `delta`/`rate`, anomaly flagging, and distribution-rollup primitives a
  * time-series store serves next to its continuous aggregates. */
object AnalyticsOps {

  /** Per-key first difference and per-second rate of a value column.
    *
    * Scale shape: one keyed window pass (single hash exchange on the key,
    * O(1) state per row — exactly the [[SessionOps.sessionize]] shape).
    * Ties on ts are broken by `tieCol` so lag() is total-order
    * deterministic at any parallelism. Rows with no predecessor (series
    * heads) carry NULL delta/rate, like PromQL's empty first scrape. */
  def deltaRate(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
    val tsMs = unix_millis(tsCol.cast("timestamp"))
    val gapMs = tsMs - lag(tsMs, 1).over(w)
    val delta = valueCol - lag(valueCol, 1).over(w)
    events
      .withColumn("delta", delta)
      // rate per second; NULL (not Inf) on duplicate timestamps
      .withColumn("rate", when(gapMs > 0, delta / (gapMs / lit(1000.0))))
  }

  /** Population z-score of every row against its (key, bucket) group, with
    * an outlier flag at `threshold` standard deviations.
    *
    * Scale shape: group stats come from a partial+final hash aggregate
    * (map-side combine — NOT an unbounded window, whose per-group sort
    * state would be O(group)), then join back on the grouping keys.
    * Catalyst reuses one hash partitioning for both the aggregate and the
    * join at scale; the stats side is bucket-count-sized, so AQE can
    * broadcast it when small. Zero-variance groups get z = NULL. */
  def zscore(
      events: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      valueCol: Column,
      threshold: Double): DataFrame = {
    val tagged = events.withColumn("__key", keyCol).withColumn("__bucket", bucketCol)
    val stats = tagged.groupBy(col("__key"), col("__bucket"))
      .agg(avg(valueCol).as("__mu"), stddev_pop(valueCol).as("__sd"))
    tagged.join(stats, Seq("__key", "__bucket"))
      .withColumn("z", when(col("__sd") > 0, (valueCol - col("__mu")) / col("__sd")))
      .withColumn("is_outlier", coalesce(abs(col("z")) > threshold, lit(false)))
      .drop("__key", "__bucket", "__mu", "__sd")
  }

  /** The input of a chunked segmented scan: each event's key, time chunk
    * (`bucketMs` wide), ts in ms and tie, plus `payload`, read as `R`. */
  private def chunkRows[R <: ChunkRow : TypeTag](events: DataFrame,
      keyCol: Column, tsCol: Column, tieCol: Column, bucketMs: Long)(
      payload: Column*): Dataset[R] = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val ts = unix_millis(tsCol.cast("timestamp"))
    events.select(Seq(keyCol.cast("string").as("key"),
        floor(ts / lit(bucketMs)).cast("long").as("bucket"), ts.as("ts"),
        tieCol.cast("long").as("tie")) ++ payload: _*)
      .as(Encoders.product[R])
  }

  /** DRIVER of the chunked segmented scans ([[ewma]], [[holt]],
    * [[holtWinters]], [[cusum]], [[rateLimitAudit]]). A per-key sequential
    * recurrence whose per-row maps compose (affine maps, or (max, +)
    * tropical ones) runs in three phases, and no task ever holds a whole
    * series:
    *
    *   phase 1: rows group by (key, bucket) — the one event-sized shuffle —
    *     and `compose` folds each chunk, sorted by (ts, tie), into one
    *     summary: its composed map, plus what `seed` needs;
    *   phase 2: per key, the summaries are scanned in bucket order,
    *     starting from `seed` of the first and applying `step`, which gives
    *     every chunk its incoming state — chunk-count-sized;
    *   phase 3: the same grouped rows cogroup with their chunk's incoming
    *     state (the phase-1 exchange is reused, not repeated), and `emit`
    *     re-walks the sorted chunk from it, one output per row.
    *
    * Skewed mega-series cost O(chunk) memory. Ties on ts are broken by the
    * tie, so results are deterministic at any parallelism. `emit` yields
    * (key, ts ms, tie, …) tuples named by `columns`; ts becomes a
    * timestamp. `step` must not mutate its state: each state is also a
    * phase-2 output. */
  private def segmentedScan[R <: ChunkRow : TypeTag : ClassTag, C: TypeTag,
      S: TypeTag, O <: Product : TypeTag](rows: Dataset[R], columns: String*)(
      compose: Array[R] => C)(seed: C => S)(step: (S, C) => S)(
      emit: (S, Array[R]) => Iterator[O]): DataFrame = {
    val chunkKey = Encoders.product[(String, Long)]
    def sorted(it: Iterator[R]) = it.toArray.sortBy(r => (r.ts, r.tie))
    val grouped = rows.groupByKey(r => (r.key, r.bucket))(chunkKey)
    val incoming = grouped
      .mapGroups((kb: (String, Long), it: Iterator[R]) =>
        (kb._1, kb._2, compose(sorted(it))))(Encoders.product[(String, Long, C)])
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroups { (k: String, it: Iterator[(String, Long, C)]) =>
        val cs = it.toArray.sortBy(_._2)
        var s = seed(cs(0)._3)
        cs.iterator.map { case (_, b, c) => val in = (k, b, s); s = step(s, c); in }
      }(Encoders.product[(String, Long, S)])
    grouped.cogroup(incoming.groupByKey(i => (i._1, i._2))(chunkKey)) {
      (_: (String, Long), rs: Iterator[R], in: Iterator[(String, Long, S)]) =>
        val chunk = sorted(rs)
        if (chunk.isEmpty) Iterator.empty else emit(in.next()._3, chunk)
    }(Encoders.product[O])
      .toDF(columns: _*)
      .withColumn("ts", timestamp_millis(col("ts")))
  }

  /** [[segmentedScan]] for the scans that finalize each row from its chunk
    * prefix ([[ewma]], [[holt]], [[cusum]], [[rateLimitAudit]]): `extend`
    * composes one more row into a map, starting from `identity`. A chunk's
    * summary is its whole composition and `seed` of its first row; the
    * phase-3 re-walk recomputes every row's prefix and finalizes the row
    * as `finish(incoming state, prefix, row)`. */
  private def prefixScan[R <: ChunkRow : TypeTag : ClassTag, P: TypeTag,
      S: TypeTag, O <: Product : TypeTag](rows: Dataset[R], columns: String*)(
      identity: P)(extend: (P, R) => P)(seed: R => S)(step: (S, P) => S)(
      finish: (S, P, R) => O): DataFrame =
    segmentedScan(rows, columns: _*)(rs =>
        (rs.foldLeft(identity)(extend), seed(rs(0))))(_._2)(
        (s, c) => step(s, c._1)) { (in, rs) =>
      rs.iterator.scanLeft(identity)(extend).drop(1).zip(rs.iterator)
        .map { case (p, r) => finish(in, p, r) }
    }

  /** Per-key exponentially weighted moving average, distributed.
    *
    * EWMA is a sequential recurrence (y_i = (1-α)·y_{i-1} + α·x_i), but
    * each element is an affine map of the running state, and affine maps
    * compose — so it runs as a [[segmentedScan]] instead of a per-series
    * group walk: each row's chunk prefix (c, d) gives
    * ewma_i = c·y_in + d once its chunk's incoming state y_in is known.
    * The series head seeds y_in = first value (so ewma_1 = x_1, pandas
    * adjust=False).
    *
    * Exact FP equality to a sequential evaluation is NOT guaranteed —
    * affine composition reassociates the arithmetic — but agreement is at
    * ulp scale (see the spec's tolerance); the q46 oracle mirrors this op
    * order exactly. */
  def ewma(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column,
      alpha: Double,
      bucketMs: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val beta = 1.0 - alpha
    prefixScan(chunkRows[ValueRow](events, keyCol, tsCol, tieCol, bucketMs)(
        valueCol.cast("double").as("value")),
        "key", "ts", "tie", "value", "ewma")((1.0, 0.0))(
        (p, r) => (p._1 * beta, beta * p._2 + alpha * r.value))(_.value)(
        (y, p) => p._1 * y + p._2) { (yIn, p, r) =>
      (r.key, r.ts, r.tie, r.value, p._1 * yIn + p._2)
    }
  }

  /** Per-key Holt double-exponential smoothing (level + linear trend),
    * distributed by the same [[segmentedScan]] as [[ewma]] — here the
    * running state is the 2-vector (level, trend) and each element applies
    * the affine map s ↦ A·s + c(x) with
    *   A = [[1−α, 1−α], [−αβ, 1−αβ]],  c(x) = (α·x, αβ·x),
    * so chunk prefixes are 2×2-matrix compositions instead of scalars.
    * Initialization is l₁ = x₁, b₁ = 0: the seed state (x₁, 0) is a fixed
    * point of the first element's map, so each series is seeded with its
    * first value exactly like the EWMA scan. Emits the smoothed level,
    * trend, and one-step forecast (level + φ·trend) per row.
    *
    * `phi` < 1 gives DAMPED-trend Holt (Gardner & McKenzie 1985, the
    * public damping standard): the trend decays geometrically instead of
    * extrapolating linearly forever —
    *   l' = α·x + (1−α)(l + φ·b);  b' = β(l'−l) + (1−β)·φ·b,
    * which stays an affine map, A = [[1−α, (1−α)φ], [−αβ, φ(1−αβ)]], so
    * the segmented scan is unchanged. φ = 1 (the default) is classic Holt
    * and is BIT-IDENTICAL to it (every φ-multiplication is exact ×1.0). */
  def holt(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column,
      alpha: Double,
      betaT: Double,
      bucketMs: Long,
      phi: Double = 1.0): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(betaT >= 0 && betaT <= 1, s"beta must be in [0, 1], got $betaT")
    require(phi > 0 && phi <= 1, s"phi must be in (0, 1], got $phi")
    val a00 = 1.0 - alpha; val a01 = (1.0 - alpha) * phi
    val a10 = -alpha * betaT; val a11 = phi * (1.0 - alpha * betaT)
    // prefix (m00, m01, m10, m11, d0, d1): (level, trend) = M·(l_in, b_in) + d
    prefixScan(chunkRows[ValueRow](events, keyCol, tsCol, tieCol, bucketMs)(
        valueCol.cast("double").as("value")),
        "key", "ts", "tie", "value", "level", "trend", "forecast")(
        (1.0, 0.0, 0.0, 1.0, 0.0, 0.0))({ case ((m00, m01, m10, m11, d0, d1), r) =>
      (a00 * m00 + a01 * m10, a00 * m01 + a01 * m11,
        a10 * m00 + a11 * m10, a10 * m01 + a11 * m11,
        a00 * d0 + a01 * d1 + alpha * r.value,
        a10 * d0 + a11 * d1 + alpha * betaT * r.value)
    })(r => (r.value, 0.0))({ case ((l, b), (m00, m01, m10, m11, d0, d1)) =>
      (m00 * l + m01 * b + d0, m10 * l + m11 * b + d1)
    }) { case ((lIn, bIn), (m00, m01, m10, m11, d0, d1), r) =>
      val level = m00 * lIn + m01 * bIn + d0
      val trend = m10 * lIn + m11 * bIn + d1
      (r.key, r.ts, r.tie, r.value, level, trend, level + phi * trend)
    }
  }

  /** Per-key additive Holt-Winters triple-exponential smoothing (level +
    * trend + period-m seasonal), distributed.
    *
    * The recurrence (public textbook form, zero-seeded seasonals):
    *   l_t = (1−α)(l_{t−1} + b_{t−1}) + α(x_t − s_{t−m})
    *   b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ) s_{t−m}
    * over the state vector (l, b, s_{t−1..t−m}) ∈ R^{m+2}, seeded
    * (x_1, 0, 0…0) — a fixed point of the first element's map, so row 1
    * yields l=x_1, b=0, seasonal=0 exactly like the EWMA/Holt seeds.
    *
    * Each element applies an AFFINE map of the state, so the series runs
    * as a [[segmentedScan]] like [[ewma]]/[[holt]] — but the state is
    * (m+2)-dimensional, so a per-row prefix matrix would carry O(m²)
    * doubles per ROW. Instead phase 1 composes each chunk's whole map (one
    * (m+2)² matrix + offset per CHUNK; the seasonal shift is a
    * circular-index rotation, so each row costs three O(m) row
    * combinations, not an O(m²) copy), and phase 3 re-walks each chunk with
    * the exact sequential recurrence ([[HoltWintersWalk]]) from its
    * incoming state, so only the chunk-boundary compositions reassociate
    * FP (tighter than the EWMA/Holt shape). Emits level, trend, the
    * updated seasonal s_t, and the one-step forecast l_t + b_t + s_{t+1−m}. */
  def holtWinters(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column,
      alpha: Double,
      betaT: Double,
      gamma: Double,
      period: Int,
      bucketMs: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(betaT >= 0 && betaT <= 1, s"beta must be in [0, 1], got $betaT")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0, 1], got $gamma")
    require(period >= 1, s"period must be >= 1, got $period")
    val m = period
    val dim = m + 2

    // one composed affine map per chunk. M is row-major dim×dim with
    // ROT-INDEXED seasonal rows (slot of s-lag-j = 2 + (rot+j-1) % m),
    // normalized to rot = 0 before it leaves the chunk.
    def compose(rows: Array[ValueRow]): (Array[Double], Array[Double], Double) = {
      val mat = Array.ofDim[Double](dim * dim)
      var i = 0
      while (i < dim) { mat(i * dim + i) = 1.0; i += 1 }
      val off = new Array[Double](dim)
      val tl = new Array[Double](dim); val tb = new Array[Double](dim)
      val ts0 = new Array[Double](dim)
      var rot = 0
      var r = 0
      while (r < rows.length) {
        val x = rows(r).value
        val qmSlot = 2 + (rot + m - 1) % m
        // new rows as combos of old rows l(0), b(1), qm(qmSlot)
        var j = 0
        while (j < dim) {
          val ml = mat(j); val mb = mat(dim + j); val mq = mat(qmSlot * dim + j)
          tl(j) = (1 - alpha) * (ml + mb) - alpha * mq
          tb(j) = -betaT * alpha * ml + (betaT * (1 - alpha) + (1 - betaT)) * mb -
            betaT * alpha * mq
          ts0(j) = -gamma * (1 - alpha) * ml - gamma * (1 - alpha) * mb +
            (gamma * alpha + (1 - gamma)) * mq
          j += 1
        }
        val dl = off(0); val db = off(1); val dq = off(qmSlot)
        val nl = (1 - alpha) * (dl + db) - alpha * dq + alpha * x
        val nb = -betaT * alpha * dl + (betaT * (1 - alpha) + (1 - betaT)) * db -
          betaT * alpha * dq + betaT * alpha * x
        val ns = -gamma * (1 - alpha) * dl - gamma * (1 - alpha) * db +
          (gamma * alpha + (1 - gamma)) * dq + gamma * (1 - alpha) * x
        System.arraycopy(tl, 0, mat, 0, dim)
        System.arraycopy(tb, 0, mat, dim, dim)
        System.arraycopy(ts0, 0, mat, qmSlot * dim, dim)
        off(0) = nl; off(1) = nb; off(qmSlot) = ns
        // the written slot becomes the NEW most-recent seasonal (lag 1)
        rot = (rot + m - 1) % m
        r += 1
      }
      // normalize seasonal row order to rot = 0
      val normM = Array.ofDim[Double](dim * dim)
      val normD = new Array[Double](dim)
      System.arraycopy(mat, 0, normM, 0, 2 * dim)
      normD(0) = off(0); normD(1) = off(1)
      var jj = 0
      while (jj < m) {
        val phys = 2 + (rot + jj) % m
        System.arraycopy(mat, phys * dim, normM, (2 + jj) * dim, dim)
        normD(2 + jj) = off(phys)
        jj += 1
      }
      (normM, normD, rows(0).value)
    }

    segmentedScan(chunkRows[ValueRow](events, keyCol, tsCol, tieCol, bucketMs)(
        valueCol.cast("double").as("value")),
        "key", "ts", "tie", "value", "level", "trend", "seasonal", "forecast")(
        compose)(ch => { val s = new Array[Double](dim); s(0) = ch._3; s })(
        { case (state, (mat, off, _)) =>
      val next = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var acc = off(i)
        val row = i * dim
        var j = 0
        while (j < dim) { acc += mat(row + j) * state(j); j += 1 }
        next(i) = acc
        i += 1
      }
      next
    }) { (st, rows) =>
      val walk = new HoltWintersWalk(alpha, betaT, gamma, st(0), st(1),
        st.slice(2, dim), 0)
      rows.iterator.map { r =>
        val s = walk.step(r.value)
        (r.key, r.ts, r.tie, r.value, walk.l, walk.b, s, walk.forecast)
      }
    }
  }

  /** Per-key one-sided (upper) CUSUM drift detector, distributed.
    *
    * CUSUM (Page 1954, the SPC standard) is the classic sequential
    * change/drift statistic:
    *   s_i = max(0, s_{i−1} + (x_i − k)),   s_0 = 0,   alarm when s_i > h,
    * where k is the allowance (in-control level + slack). The recurrence
    * looks inherently sequential, but each element is an affine map in the
    * (max, +) TROPICAL semiring — f_a(s) = max(0, s + a) — and those maps
    * compose in closed form: writing (M, T) for s ↦ max(M, s + T),
    *   (M₂, T₂) ∘ (M₁, T₁) = (max(M₂, M₁ + T₂), T₁ + T₂),
    * which is associative. So the [[ewma]] [[segmentedScan]] applies
    * verbatim with tropical composition in place of real affine
    * composition: each row's chunk prefix (M, T) gives
    * cusum_i = max(M, s_in + T), with every series seeded s = 0.
    *
    * Unlike the real-affine scans (q46/q49/q50), this one has NO
    * floating-point reassociation caveat: values are fixed to integer
    * cents (Spark's HALF_UP double→DECIMAL(12,2), the q79/q80 idiom), and
    * max/+ over integers are exact — so the distributed result is
    * BIT-IDENTICAL to the sequential recurrence (and to a sequential
    * DuckDB oracle) at any parallelism and any chunking. Overflow headroom:
    * T is bounded by chunk length × max|drift| and s by the series'
    * net positive drift since its last zero — with cent-scaled telemetry
    * values both sit far below 2^63 even at 10^12-row series (a series
    * that never returns to 0 for 10^12 consecutive samples is a
    * mis-parameterized monitor: k below the in-control mean).
    *
    * Emits (key, ts, tie, value, cusum, alarm). */
  def cusum(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column,
      k: Double,
      h: Double,
      bucketMs: Long): DataFrame = {
    require(h > 0, s"alarm threshold h must be positive, got $h")
    val kC = exactCents(k)
    val hC = exactCents(h)
    // identity (M, T) = (0, 0) is s ↦ max(0, s), the identity on the
    // reachable domain (s_in ≥ 0 always)
    prefixScan(chunkRows[CentsRow](events, keyCol, tsCol, tieCol, bucketMs)(
        valueCol.cast("double").as("value"),
        (valueCol.cast("decimal(12,2)") * lit(100)).cast("long").as("vc")),
        "key", "ts", "tie", "value", "cusum", "alarm")((0L, 0L))(
        { case ((m, t), r) => val a = r.vc - kC; (math.max(0L, m + a), t + a) })(
        _ => 0L)({ case (s, (m, t)) => math.max(m, s + t) }) {
      case (sIn, (m, t), r) =>
        val s = math.max(m, Math.addExact(sIn, t))
        (r.key, r.ts, r.tie, r.value, s.toDouble / 100.0, s > hC)
    }
  }

  /** Exact cents of `v` (HALF_UP to 2 decimals via `BigDecimal.valueOf`);
    * throws on non-finite or overflowing values. [[cusum]] and the
    * streaming twins that convert values the same way share this one
    * definition, so stream ≡ batch stays bit-identical. */
  private[graft] def exactCents(v: Double): Long = java.math.BigDecimal.valueOf(v)
    .setScale(2, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact

  /** Token-bucket / GCRA rate-limit audit, distributed — replay every
    * key's event stream against a token bucket (capacity `burst` tokens,
    * refill `ratePerSec`, one token per event) and flag the events that
    * exceed it: the crawl-politeness compliance report ("which fetches
    * broke the per-host budget, and by how much") next to
    * [[revisitSchedule]]'s planning side.
    *
    * The meter recurrence (refill-then-consume, debt clamped at full)
    *   s_i = max(0, s_{i−1} − r·Δt_i) + c
    * looks like it needs the inter-arrival gap, but the time-anchored
    * substitution u = s + r·t′ (t′ = ts − anchor) removes Δt entirely:
    *   u_i = max(c + r·t′_i, u_{i−1} + c)
    * — a (max, +) tropical affine u ↦ max(M, u + T) per row, the SAME
    * closed composition as [[cusum]], so the [[segmentedScan]] applies
    * verbatim: one event-sized shuffle, chunk-count-sized phase 2, no
    * group walk ever holds a series. All arithmetic is integer
    * NANO-tokens (the rate quantizes to nano-token/ms granularity —
    * 0.001 tokens/sec steps), so the distributed result is BIT-IDENTICAL
    * to the sequential recurrence and to the DuckDB oracle at any
    * parallelism and chunking; `burst_used` is one fixed-order division.
    * Overflow headroom: r·t′ is kept within Long.MaxValue/4, ENFORCED per
    * row — any |ts − anchorMs| beyond (Long.MaxValue/4 − 10⁹)/r ms (≈8.5
    * months at ratePerSec=100, ≈71 years at 1.0) throws with the fix in
    * the message (pass anchorMs near min(ts)) instead of silently
    * corrupting burst_used/violation; per-chunk T = n·10⁹ bounds chunks
    * at ~10⁹ rows.
    *
    * A violation marks an event whose arrival pushed usage past the burst
    * capacity (the event a real limiter would have throttled — though this
    * meter, like PromQL counters, keeps charging: virtual scheduling, not
    * drop simulation). */
  def rateLimitAudit(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      ratePerSec: Double,
      burst: Double,
      bucketMs: Long,
      anchorMs: Long = 0L): DataFrame = {
    require(ratePerSec >= 0.001 && ratePerSec <= 100.0,
      s"ratePerSec must be in [0.001, 100], got $ratePerSec")
    require(burst >= 1.0, s"burst must be >= 1 token, got $burst")
    val c = 1000000000L                       // one event = 1e9 nano-tokens
    val rNanoPerMs = Math.round(ratePerSec * 1e6)
    val burstNano = Math.round(burst * 1e9)
    val NEG = Long.MinValue / 4               // "bucket full since forever"
    // overflow guard: the ledger's core product rNanoPerMs·(ts−anchorMs)
    // must stay within Long.MaxValue/4 (leaving 3/4 headroom for the +c
    // accumulations and the NEG seed). With the default anchorMs=0 and
    // real epoch-ms timestamps that product overflows silently for
    // ratePerSec >= ~1.3e-3·4 — so the precondition is ENFORCED per row,
    // failing loudly with the fix (anchor near min(ts)) in the message.
    val maxSpanMs = (Long.MaxValue / 4 - c) / math.max(rNanoPerMs, 1L)
    def guardSpan(ts: Long): Long = {
      val span = ts - anchorMs
      if (span < -maxSpanMs || span > maxSpanMs)
        throw new IllegalArgumentException(
          s"rateLimitAudit: |ts - anchorMs| = ${math.abs(span)} ms exceeds " +
          s"$maxSpanMs ms at ratePerSec=$ratePerSec — the nano-token ledger " +
          "would overflow Long. Pass anchorMs near the data's minimum " +
          "timestamp (e.g. min(ts) truncated to the epoch start).")
      span
    }

    // tropical prefixes (M, T) on u, seeded u = −∞; the re-walk guards
    // every row again before its own r·t′
    prefixScan(chunkRows[TickRow](events, keyCol, tsCol, tieCol, bucketMs)(),
        "key", "ts", "tie", "burst_used", "violation")((NEG, 0L))(
        { case ((m, t), r) =>
          (math.max(c + rNanoPerMs * guardSpan(r.ts), m + c), t + c) })(
        _ => NEG)({ case (u, (m, t)) => math.max(m, u + t) }) {
      case (uIn, (m, t), r) =>
        // s = u − r·t′ of the row's u = max(M, u_in + T)
        val s = Math.subtractExact(math.max(m, Math.addExact(uIn, t)),
          Math.multiplyExact(rNanoPerMs, Math.subtractExact(r.ts, anchorMs)))
        (r.key, r.ts, r.tie, s.toDouble / 1.0e9, s > burstNano)
    }
  }

  /** Robust per-group outliers via median/MAD — the outlier rule of choice
    * when the data itself contains the outliers you're hunting ([[zscore]]'s
    * mean/stddev are dragged by the very spikes they should flag; the
    * median and the median absolute deviation have a 50% breakdown point).
    * Flags |x − median| > k·MAD per (key, bucket) group.
    *
    * Medians are LOWER medians — exact order statistics selected by rank
    * ((n+1)/2 in (value, tie) order), not interpolated — and all deviation
    * arithmetic runs in integer cents, so the op is EXACT cross-engine at
    * any parallelism: no FP mean/variance to reassociate, no interpolation
    * to round. Zero-MAD groups (a majority of identical values) flag any
    * row strictly above the median deviation — the standard degenerate
    * case reading.
    *
    * Scale shape: two keyed window passes (rank + count) and two joins,
    * ALL keyed on the full group key — one hash exchange, reused by every
    * operator in the chain; window state is O(1) per row (row_number +
    * partition count, never a buffered frame). The median tables are
    * group-count-sized, AQE-broadcastable. */
  def madOutliers(
      events: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      tieCol: Column,
      valueCol: Column,
      k: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // single-pass shape (r6, guide §2.4): the old median/MAD tables were
    // rank-filtered copies joined back onto the data, and each join
    // reference re-ran the event scan (~4 passes). Both medians are now
    // window aggregates over the SAME (key, bucket) partition the ranks
    // already use — max(when(rn = target)) picks the identical
    // lower-median element — so the whole computation runs on one scan
    // and one exchange. The isNotNull filter reproduces the old inner
    // joins' null-key drop.
    val o = events.select(keyCol.as("key"), bucketCol.as("bucket"),
      tieCol.as("tie"), valueCol.cast("double").as("value"),
      (valueCol.cast("decimal(12,2)") * lit(100)).cast("long").as("__vc"))
      .filter(col("key").isNotNull && col("bucket").isNotNull)
    val wp = Window.partitionBy("key", "bucket")
    val wv = wp.orderBy("__vc", "tie")
    val dev = o
      .withColumn("__rn", row_number().over(wv))
      .withColumn("__n", count(lit(1)).over(wp))
      .withColumn("__med",
        max(when(col("__rn") === floor((col("__n") + 1) / 2),
          col("__vc"))).over(wp))
      .withColumn("__dev", abs(col("__vc") - col("__med")))
    val wd = wp.orderBy("__dev", "tie")
    dev
      .withColumn("__rd", row_number().over(wd))
      .withColumn("__mad",
        max(when(col("__rd") === floor((col("__n") + 1) / 2),
          col("__dev"))).over(wp))
      .select(col("key"), col("bucket"), col("tie"), col("value"),
        (col("__med").cast("double") / lit(100.0)).as("median"),
        (col("__mad").cast("double") / lit(100.0)).as("mad"),
        // integer-cents comparison promoted exactly: k·mad and dev are
        // both exact doubles below 2^53
        (col("__dev").cast("double") > lit(k) * col("__mad").cast("double"))
          .as("is_outlier"))
  }

  /** Trailing-window distinct actives (the WAU/MAU query): for every
    * observed day, the number of distinct keys active in the `windowDays`
    * days ending on it — [[trailingActives]]' counts restricted to the days
    * that carry at least one event (every such day has an active key, so
    * none is lost), with the day as a timestamp.
    *
    * Scale shape: [[trailingActives]]' dedup-first count, then one inner
    * join against the distinct observed days (a day-sized partial+final
    * aggregate straight off the scan). Pure integer arithmetic — exact
    * cross-engine. (The approximate at-scale alternative — mergeable HLL
    * sketches per day, range-unioned — is q45's territory.) */
  def rollingActives(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDays: Int): DataFrame = {
    val observed = events
      .select(unix_millis(date_trunc("day", tsCol).cast("timestamp")).as("day_ms"))
      .distinct()
    trailingCounts(events, keyCol, tsCol, windowDays)
      .join(observed, Seq("day_ms"))
      .select(timestamp_millis(col("day_ms")).as("day"), col("actives"))
  }

  /** Forecast-residual anomaly detection — the classic TS alerting query:
    * each point is compared against the smoother's one-step-ahead forecast
    * (for EWMA, the PREVIOUS point's smoothed value), and flagged when the
    * residual exceeds `k` population standard deviations of that key's
    * residuals. Input is any smoother output with (key, ts, tie, value,
    * `forecastCol`) columns — [[ewma]] (forecastCol = "ewma"), [[holt]] /
    * [[holtWinters]] (forecastCol = "forecast", already one-step-ahead).
    *
    * Scale shape: one keyed window pass for the lag (EWMA case), a
    * partial+final hash aggregate for the per-key sigma (key-count-sized;
    * AQE broadcasts it back), exactly the [[zscore]] join shape. Series
    * heads carry NULL residuals and are never flagged. */
  def forecastAnomalies(
      smoothed: DataFrame,
      forecastCol: String,
      k: Double,
      lagForecast: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy("key").orderBy("ts", "tie")
    val fc = if (lagForecast) lag(forecastCol, 1).over(w) else col(forecastCol)
    val withRes = smoothed.withColumn("resid", col("value") - fc)
    val stats = withRes.filter(col("resid").isNotNull)
      .groupBy("key").agg(stddev_pop("resid").as("__sd"))
    withRes.join(stats, Seq("key"), "left")
      .withColumn("is_anomaly",
        coalesce(abs(col("resid")) > lit(k) * col("__sd"), lit(false)))
      .drop("__sd")
  }

  /** Fixed-width value histogram per (key, bucket): bin = floor(value /
    * binWidth), so bins are globally aligned without a min/max pre-pass.
    *
    * Scale shape: a single partial+final hash aggregate — the map-side
    * combine collapses each partition to its distinct (key, bucket, bin)
    * rows before the shuffle, which is what makes a distribution rollup
    * cheap at 100 TB (cardinality is bins × groups, not rows). */
  def histogram(
      events: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      valueCol: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    events
      .groupBy(keyCol, bucketCol,
        floor(valueCol / lit(binWidth)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"),
        round(min(valueCol), 6).as("bin_min"),
        round(max(valueCol), 6).as("bin_max"))
  }

  /** Prometheus-style `histogram_quantile` SERVED FROM the stored
    * distribution rollup ([[histogram]]'s output) — the tier read that
    * answers "p95 per (key, day)" without ever rescanning raw events.
    * Within each (key, bucket) the bin counts are cumulated in bin order;
    * quantile q picks the FIRST bin whose cumulative count reaches
    * rank = q·total and interpolates linearly inside it:
    * est = bin·W + (rank − cum_below)/cnt · W (so a rank landing exactly
    * on a bin boundary returns the bin's UPPER edge, like Prometheus).
    *
    * Exact cross-engine: counts are integers, rank/interpolation is a
    * FIXED double op order over bit-identical operands — the oracle
    * mirrors it literally, no rounding needed.
    *
    * Scale shape: input is ALREADY rollup-sized (bins × groups, not
    * events). One hash exchange on (key, bucket) shared by the cumulate
    * window and the quantile fan-out; the explode multiplies cells by
    * |qs| (tiny); the first-qualifying-bin pick is a per-(key, bucket, q)
    * row_number over at most `bins` rows. No event-sized anything. */
  def histogramQuantile(
      hist: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      binCol: Column,
      cntCol: Column,
      binWidth: Double,
      qs: Seq[Double]): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1),
      s"quantiles must be in (0, 1), got $qs")
    val wcum = Window.partitionBy("key", "bucket").orderBy("bin")
    val cum = hist
      .select(keyCol.as("key"), bucketCol.as("bucket"),
        binCol.cast("long").as("bin"), cntCol.cast("long").as("cnt"))
      .withColumn("cum", sum("cnt").over(wcum))
      .withColumn("total",
        sum("cnt").over(Window.partitionBy("key", "bucket")))
    val pick = Window.partitionBy("key", "bucket", "q").orderBy("bin")
    cum
      .select(col("*"), explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("rank", col("q") * col("total").cast("double"))
      .filter(col("cum").cast("double") >= col("rank"))
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col("key"), col("bucket"), col("q"),
        (col("bin").cast("double") * lit(binWidth) +
          (col("rank") - (col("cum") - col("cnt")).cast("double"))
            / col("cnt").cast("double") * lit(binWidth)).as("est"))
  }

  /** Change-only (LOCF) compression: collapse each run of consecutive
    * identical values per key — in (ts, tie) order — to its FIRST row,
    * carrying `run_len` (how many raw rows the kept row stands for). The
    * write-path dedup a tiered gauge store applies before persisting:
    * LOSSLESS under last-observation-carried-forward semantics, because
    * gap-fill locf over the kept rows reproduces every raw reading.
    *
    * Scale shape: ONE hash exchange on the key feeds a single window pass
    * (the change flag via lag and the run id via a running sum share the
    * same frame), then the run aggregate groups by (key, run) — clustering
    * by a superset of the exchange keys, so no second shuffle. The run's
    * first (ts, tie) comes from [[graft.functions.OrderedAggregates]]'
    * flat-buffer first-by-order aggregate (a `min_by` struct buffer would
    * degrade the aggregate to SortAggregate). O(1) state per row
    * everywhere; never a group buffer. */
  def changeCompress(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column): DataFrame = {
    import graft.functions.OrderedAggregates.firstByOrd
    val w = Window.partitionBy("key").orderBy("ts", "tie")
    events
      .select(keyCol.as("key"),
        unix_millis(tsCol.cast("timestamp")).as("ts"),
        tieCol.cast("long").as("tie"), valueCol.cast("double").as("value"))
      .withColumn("__chg",
        when(coalesce(col("value") =!= lag("value", 1).over(w), lit(true)), 1L)
          .otherwise(0L))
      .withColumn("__run", sum("__chg").over(w))
      .groupBy("key", "__run")
      .agg(min("ts").as("ts"),
        firstByOrd(col("tie"), col("ts"), col("tie")).as("tie"),
        min("value").as("value"),
        count(lit(1)).as("run_len"))
      .drop("__run")
  }

  /** Semi-structured property extraction + rollup: pull a numeric field out
    * of a JSON `props` column and aggregate it per event type — the
    * "parse the instrumentation payload" step that sits in front of every
    * event-analytics rollup.
    *
    * Scale shape: `get_json_object` is a codegen'd per-row path evaluation
    * (Jackson streaming parse — no schema inference pass over the data,
    * which `from_json` + a sampled schema would need), followed by one
    * partial+final hash aggregate keyed by event type. At 100 TB the parse
    * pipelines with the scan; rows with missing/corrupt `k` surface in
    * `n_missing` instead of failing the job. */
  def jsonPropStats(events: DataFrame, path: String = "$.k"): DataFrame = {
    val k = get_json_object(col("props"), path).cast("long")
    events
      .select(col("event_type"), k.as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
  }

  /** Per-(key, bucket) OHLC candle: open/close are the first/last value in
    * (ts, tie) order, high/low the extremes — the classic financial
    * downsample, and the lossy-but-queryable rollup a tiered time-series
    * store keeps once raw points expire.
    *
    * Scale shape: ONE partial+final HASH aggregate with O(1) state per
    * candle, deterministic at any parallelism because `tieCol` makes the
    * order total. Open/close use [[graft.functions.OrderedAggregates]]'
    * flat-buffer first/last-by-order aggregate rather than
    * `min_by(value, struct(ts, tie))`: the struct buffer disqualifies
    * HashAggregateExec and silently degrades the whole candle to
    * SortAggregate — a per-partition sort 100 TB of events shouldn't pay
    * (shape pinned by PlanSpec's q73 test). */
  def ohlc(
      events: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column): DataFrame = {
    events
      .groupBy(keyCol, bucketCol)
      .agg(
        graft.functions.OrderedAggregates.firstByOrd(valueCol, tsCol, tieCol)
          .as("open"),
        max(valueCol).as("high"),
        min(valueCol).as("low"),
        graft.functions.OrderedAggregates.lastByOrd(valueCol, tsCol, tieCol)
          .as("close"),
        count(lit(1)).as("cnt"),
        sum(valueCol).as("vsum"))
  }

  /** Pairwise Pearson correlation between series, after aligning them on a
    * common time bucket: "which signals move together" — the first question
    * asked of any metrics store with more than one series.
    *
    * Scale shape: the only event-sized work is the alignment aggregate
    * (partial+final hash agg to one row per (series, bucket)); the
    * self-join and the `corr` aggregate run on that bucket-count-sized
    * table, producing S·(S−1)/2 pairs per bucket for S series — S is the
    * series-name cardinality (small), never the row count. `corr` is a
    * co-moment aggregate (O(1) partial state, map-side combinable), so no
    * operator ever buffers a series. Pairs are emitted once with
    * `series_a < series_b`; buckets where a series is absent simply drop
    * out of that pair's sample (inner join on bucket). */
  def pairCorrelation(
      events: DataFrame,
      seriesCol: Column,
      bucketCol: Column,
      valueCol: Column): DataFrame = {
    val aligned = events
      .groupBy(seriesCol.as("series"), bucketCol.as("bucket"))
      .agg(avg(valueCol).as("v"))
    val a = aligned.select(col("series").as("series_a"), col("bucket"),
      col("v").as("__va"))
    val b = aligned.select(col("series").as("series_b"), col("bucket"),
      col("v").as("__vb"))
    a.join(b, Seq("bucket"))
      .filter(col("series_a") < col("series_b"))
      .groupBy("series_a", "series_b")
      .agg(corr(col("__va"), col("__vb")).as("r"),
        count(lit(1)).as("n_buckets"))
  }

  /** Monotonic-counter increase with reset detection (PromQL `increase`):
    * per (key, bucket), the counter's total growth where a sample LOWER
    * than its predecessor marks a counter reset and contributes its own
    * value (the counter restarted from ~0) instead of a negative delta.
    * Also reports the reset count — the restart telemetry itself.
    *
    * Scale shape: one keyed window pass for the lag (same single-exchange
    * shape as [[deltaRate]]) and one partial+final hash aggregate. Series
    * heads contribute nothing (their growth is unobserved), matching
    * PromQL. EXACT cross-engine when values are fixed-decimal: sums are
    * DECIMAL(12,2) integer arithmetic. */
  def counterIncrease(
      events: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column): DataFrame = {
    val tagged = events.select(keyCol.as("key"), bucketCol.as("bucket"),
      tsCol.as("t"), tieCol.as("tie"), valueCol.cast("decimal(12,2)").as("v"))
    val w = Window.partitionBy("key", "bucket").orderBy("t", "tie")
    val prev = lag(col("v"), 1).over(w)
    tagged
      .withColumn("inc", when(prev.isNull, lit(null))
        .when(col("v") >= prev, col("v") - prev)
        .otherwise(col("v")))
      .withColumn("reset",
        when(prev.isNotNull && col("v") < prev, 1L).otherwise(0L))
      .groupBy("key", "bucket")
      .agg(sum(col("inc")).as("increase"),
        sum(col("reset")).as("resets"),
        count(lit(1)).as("n"))
  }

  /** Time-weighted average per (key, bucket): the gauge-rollup semantics a
    * metrics store needs when samples are irregular — each value is held
    * until the next sample (left-continuous step function), so a gauge that
    * sat at 100 for an hour outweighs one that blipped there for a second.
    * twa = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last − t_first); the last sample carries no
    * weight; single-sample (or all-duplicate-ts) groups get NULL.
    *
    * Scale shape: one keyed window pass for the lead() gap (partitioned by
    * the full group key — state O(1) per row) and one partial+final hash
    * aggregate. EXACT cross-engine: the weighted sum accumulates
    * DECIMAL(12,2)·ms products (integer arithmetic — associative, no FP
    * reassociation), and the final division is one double op over
    * bit-identical operands. */
  def timeWeightedAvg(
      events: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column): DataFrame = {
    val tagged = events.select(keyCol.as("key"), bucketCol.as("bucket"),
      unix_millis(tsCol.cast("timestamp")).as("t"),
      tieCol.as("tie"), valueCol.as("v"))
    val w = Window.partitionBy("key", "bucket").orderBy("t", "tie")
    tagged
      .withColumn("dt", lead(col("t"), 1).over(w) - col("t"))
      .groupBy("key", "bucket")
      .agg(
        sum(col("v").cast("decimal(12,2)") * col("dt")).as("__wsum"),
        (max(col("t")) - min(col("t"))).as("span_ms"),
        count(lit(1)).as("n"))
      .withColumn("twa", when(col("span_ms") > 0,
        col("__wsum").cast("double") / col("span_ms").cast("double")))
      .drop("__wsum")
  }

  /** Threshold alerting with hysteresis per key: an alert FIRES when the
    * series reaches `hi` and CLEARS only when it falls to `lo` (hi > lo),
    * so values oscillating inside the (lo, hi) dead band never flap the
    * alert — the contract of Grafana/Nagios-style two-threshold rules.
    * Emits one row per maximal alert EPISODE (a run of consecutive
    * observed buckets whose hysteresis state is firing) with its first and
    * last bucket, run length, and peak value.
    *
    * The state machine is evaluated declaratively: each row's crossing
    * event is 1 (value ≥ hi), 0 (value ≤ lo) or NULL (dead band), and the
    * firing state is the last non-null crossing carried forward (the
    * gap-fill LOCF trick), seeded 0. Episodes are gaps-and-islands:
    * row number over all rows minus row number over firing rows.
    *
    * Scale shape: input is a ROLLUP (bucket-count rows, never raw events);
    * two keyed window passes over ONE hash exchange (same partitioning,
    * Catalyst reuses it) and a final partial+final hash aggregate. EXACT
    * cross-engine when the rollup value is decimal-derived: states,
    * buckets and run ids are integers; the peak is an order-free max. */
  def hysteresisAlerts(
      series: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      valueCol: Column,
      hi: Double,
      lo: Double): DataFrame = {
    require(hi > lo, s"hysteresis needs hi > lo, got hi=$hi lo=$lo")
    val tagged = series.select(keyCol.as("key"), bucketCol.as("bucket"),
      valueCol.as("v"))
    val w = Window.partitionBy("key").orderBy("bucket")
    val crossing = when(col("v") >= hi, 1).when(col("v") <= lo, 0)
    val firing = coalesce(
      last(crossing, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      lit(0))
    tagged
      .withColumn("__fire", firing)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__fire") === 1)
      .withColumn("__grp", col("__rn") - row_number().over(w))
      .groupBy("key", "__grp")
      .agg(min("bucket").as("ep_start"), max("bucket").as("ep_end"),
        count(lit(1)).as("n_buckets"), max("v").as("peak"))
      .drop("__grp")
  }

  /** Per-(key, day) availability report over a bucketed series: of the
    * buckets between the key's first and last active bucket of the day,
    * how many actually reported, how many are missing, and the longest
    * silent gap — the uptime/telemetry-coverage query every fleet
    * dashboard runs against its continuous aggregates.
    *
    * Scale shape: a distinct (hash aggregate) down to observed buckets,
    * one keyed window pass for the lag gap, one partial+final hash
    * aggregate — all on rollup-sized data. EXACT cross-engine: pure
    * integer arithmetic (buckets are epoch-ms multiples of `bucketMs`). */
  def availability(
      series: DataFrame,
      keyCol: Column,
      dayCol: Column,
      bucketMsCol: Column,
      bucketMs: Long): DataFrame = {
    val tagged = series.select(keyCol.as("key"), dayCol.as("day"),
      bucketMsCol.as("b")).distinct()
    val w = Window.partitionBy("key", "day").orderBy("b")
    tagged
      .withColumn("__gap", col("b") - lag(col("b"), 1).over(w))
      .groupBy("key", "day")
      .agg(count(lit(1)).as("observed"),
        (floor((max("b") - min("b")) / lit(bucketMs)) + 1L).cast("long")
          .as("expected"),
        coalesce(max("__gap") - lit(bucketMs), lit(0L)).as("longest_gap_ms"))
      .withColumn("missing", col("expected") - col("observed"))
  }

  /** Calendar-baseline comparison: each (key, hour) bucket's mean against
    * the key's TRAILING mean for the same hour-of-day on prior days — the
    * seasonal-naive anomaly score ("is 3 pm today out of line with every
    * previous 3 pm?"). Buckets with no prior same-hour history carry NULL
    * baseline/ratio.
    *
    * Scale shape: one event-sized partial+final hash aggregate down to
    * hourly buckets, then one keyed window over (key, hour-of-day) —
    * bucket-count rows, O(1) running state per row (running decimal sum +
    * count, never a buffered frame). EXACT cross-engine: sums are
    * DECIMAL(12,2), each mean/ratio is a double op over bit-identical
    * operands. */
  def calendarBaseline(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      valueCol: Column): DataFrame = {
    val hourly = events
      .groupBy(keyCol.as("key"), date_trunc("hour", tsCol).as("bucket"))
      .agg(sum(valueCol.cast("decimal(12,2)")).as("__vs"),
        count(lit(1)).as("n"))
      .withColumn("mean", col("__vs").cast("double") / col("n"))
    val w = Window.partitionBy(col("key"), hour(col("bucket")))
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    hourly
      .withColumn("baseline",
        sum("__vs").over(w).cast("double") / sum("n").over(w))
      .withColumn("ratio",
        when(col("baseline") > 0, col("mean") / col("baseline")))
      .drop("__vs")
  }

  /** Forecast-accuracy rollup for the SEASONAL-NAIVE forecast (the q84
    * baseline family): per key, score f_t = y_{t−season} against the
    * actual bucket totals with MAE, bias (mean signed error) and MASE —
    * mean absolute error scaled by the one-step naive's in-sample MAE
    * (Hyndman & Koehler 2006), so accuracy is comparable across keys with
    * wildly different magnitudes. Buckets whose seasonal predecessor is
    * MISSING are excluded from the numerator (not imputed); a constant
    * series (naive MAE 0) gets NULL MASE.
    *
    * Exact cross-engine: bucket totals are decimal cents, the seasonal
    * and one-step lookups are 1-row range frames (exact bucket-epoch
    * offsets, NOT row lags — gaps would desynchronize a row lag), every
    * error sum stays decimal, and only the final three divisions are
    * doubles in a fixed op order the oracle mirrors.
    *
    * Scale shape: one event-sized hash aggregate down to (key, bucket),
    * then two single-row range-frame window lookups sharing one key
    * exchange + sort, then a bucket-count-sized hash aggregate. O(1)
    * window state per row. */
  def forecastAccuracy(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      valueCol: Column,
      seasonMs: Long = 86400000L,
      stepMs: Long = 3600000L): DataFrame = {
    require(stepMs > 0 && seasonMs > stepMs && seasonMs % stepMs == 0,
      s"need season a positive multiple of step, got $seasonMs/$stepMs")
    val hourly = events
      .groupBy(keyCol.as("key"),
        (floor(unix_millis(tsCol.cast("timestamp")) / lit(stepMs))
          * lit(stepMs)).cast("long").as("bucket"))
      .agg(sum(valueCol.cast("decimal(12,2)")).as("__vs"))
    def at(offset: Long) = max("__vs").over(
      Window.partitionBy("key").orderBy("bucket")
        .rangeBetween(-offset, -offset))
    hourly
      .withColumn("__e", col("__vs") - at(seasonMs))
      .withColumn("__d", col("__vs") - at(stepMs))
      .groupBy("key")
      .agg(count(col("__e")).as("n_fc"),
        sum(abs(col("__e"))).as("__sae"),
        sum(col("__e")).as("__se"),
        count(col("__d")).as("__nd"),
        sum(abs(col("__d"))).as("__sad"))
      .filter(col("n_fc") > 0)
      .select(col("key"), col("n_fc"),
        (col("__sae").cast("double") / col("n_fc").cast("double")).as("mae"),
        (col("__se").cast("double") / col("n_fc").cast("double")).as("bias"),
        when(col("__sad") > 0,
          (col("__sae").cast("double") / col("n_fc").cast("double"))
            / (col("__sad").cast("double") / col("__nd").cast("double")))
          .as("mase"))
  }

  /** Global top-k day-over-day movers: per key, |Δ| between each day's
    * decimal total and the key's previous ACTIVE day's total, ranked
    * globally, deterministic tie-break by (key, day).
    *
    * Scale shape: partial+final hash aggregate to day-count rows, one
    * keyed window for the lag, then a global top-k that compiles to
    * TakeOrderedAndProject — per-partition k-row heaps merged once on the
    * driver, NEVER a global sort/exchange of the day table. EXACT
    * cross-engine: decimal arithmetic end to end. */
  def topMovers(
      events: DataFrame,
      keyCol: Column,
      dayCol: Column,
      valueCol: Column,
      k: Int): DataFrame = {
    val daily = events.groupBy(keyCol.as("key"), dayCol.as("day"))
      .agg(sum(valueCol.cast("decimal(12,2)")).as("total"))
    val w = Window.partitionBy("key").orderBy("day")
    daily
      .withColumn("prev_total", lag("total", 1).over(w))
      .filter(col("prev_total").isNotNull)
      .withColumn("change", col("total") - col("prev_total"))
      .orderBy(abs(col("change")).desc, col("key"), col("day"))
      .limit(k)
  }

  /** Multi-window SLO burn rate per key (Google SRE workbook shape): the
    * error ratio over a short and a long trailing window, each divided by
    * the error budget; the alert fires only when BOTH windows burn above
    * `threshold` — the long window proves it's sustained, the short one
    * proves it's still happening. Windows are RANGE frames on the bucket
    * epoch, so a series with missing buckets still measures true
    * wall-clock windows (a row-count frame would silently stretch them).
    *
    * Scale shape: one event-sized partial+final hash aggregate down to
    * (key, hour) buckets, then two range-frame window passes sharing one
    * hash exchange on the key, O(1) running state per row. EXACT
    * cross-engine: integer counts; each ratio is a double op over
    * bit-identical operands. */
  def sloBurnRate(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      isErrorCol: Column,
      budget: Double,
      shortMs: Long,
      longMs: Long,
      threshold: Double): DataFrame = {
    val bucketMs = 3600000L
    require(shortMs >= bucketMs && longMs > shortMs,
      s"windows must be >= 1h and long > short, got $shortMs/$longMs")
    val hourly = events
      .groupBy(keyCol.as("key"),
        (floor(unix_millis(tsCol.cast("timestamp")) / lit(bucketMs))
          * lit(bucketMs)).cast("long").as("bucket"))
      .agg(sum(when(isErrorCol, 1L).otherwise(0L)).as("err"),
        count(lit(1)).as("tot"))
    def burn(spanMs: Long): Column = {
      val w = Window.partitionBy("key").orderBy(col("bucket"))
        .rangeBetween(-(spanMs - bucketMs), 0L)
      sum("err").over(w).cast("double") / sum("tot").over(w).cast("double") /
        lit(budget)
    }
    hourly
      .withColumn("burn_short", burn(shortMs))
      .withColumn("burn_long", burn(longMs))
      .withColumn("alert",
        col("burn_short") > threshold && col("burn_long") > threshold)
  }

  /** Distribution drift per (key, period): the TOTAL VARIATION distance
    * between a period's value histogram and the key's PREVIOUS period —
    * the day-over-day data-drift monitor a training-data pipeline runs
    * before trusting a new snapshot. TV distance is chosen over KL
    * deliberately: with bin counts c (today, total n) and q (previous,
    * total m),  TV = Σ|c_i·m − q_i·n| / (2·n·m)  has an INTEGER numerator
    * — the cross-bin sum is associative integer arithmetic, immune to FP
    * reassociation, and the one double division happens over
    * bit-identical operands, so the result is exact cross-engine at any
    * parallelism (a KL/JS log-sum would reassociate).
    *
    * Scale shape: one event-sized hash aggregate down to (key, period,
    * bin) cells, a full-outer self-join on period+1 (cell-sized), a join
    * to the per-period totals, and one final cell-sized hash aggregate.
    * Periods with no predecessor are omitted (drift is undefined).
    *
    * The cell table is materialized once for its four consumers
    * ([[Adaptive.materialize]]: private to this call, released with it). */
  def histogramDrift(
      events: DataFrame,
      keyCol: Column,
      periodCol: Column,
      periodStepMs: Long,
      valueCol: Column,
      binWidth: Double): DataFrame = {
    shiftJoinedCells(events, keyCol, periodCol, periodStepMs, valueCol, binWidth)
      .groupBy("key", "period", "n", "m")
      .agg(sum(abs(col("c") * col("m") - col("q") * col("n"))).as("__num"))
      .withColumn("tvd",
        col("__num").cast("double") / (lit(2.0) * col("n") * col("m")))
      .drop("__num")
  }

  /** Earth-mover (1-Wasserstein) + Kolmogorov-Smirnov drift between each
    * period's value histogram and its immediate predecessor — the
    * magnitude-aware companions to [[histogramDrift]]'s total variation
    * (TV says HOW MUCH mass moved; EMD says HOW FAR it moved; KS is the
    * worst single-threshold gap). Over binned data both reduce to the
    * cumulative-count identity: with D(b) = |cumC(b)·m − cumQ(b)·n| at
    * each PRESENT bin, EMD = binWidth·Σ D(b)·(next_bin − b)/(n·m) (the
    * CDF gap is constant across absent bins, so the lead-gap product
    * covers them exactly; after the last bin D = 0) and
    * KS = max D(b)/(n·m).
    *
    * EXACT cross-engine: D and the gap products are exact decimal/HUGEINT
    * integers at any partitioning; each output is one fixed division of
    * them. Scale shape: reuses [[histogramDrift]]'s cell scaffold
    * (the event-sized aggregate runs once); the cumulative window is
    * partitioned per (key, period) over bin-count-sized frames; the final
    * aggregate is cell-sized.
    *
    * RANGE BOUND (non-ANSI overflow semantics): the decimal(19,0)
    * cumulants overflow — and silently null the row under Spark's
    * non-ANSI mode — once cum·m (or cum·n) reaches 10^19, i.e. when a
    * (key, period) pair's n·m product approaches 10^19 events². The
    * streaming twin ([[graft.streaming.StreamStage]] emdKsDriftStream)
    * folds the same cumulants in BigInt and stays exact past that point,
    * so batch and stream agree bit-for-bit only below the bound. If
    * per-period event counts can exceed ~3·10^9 per side, widen `big` to
    * decimal(38,0) on the batch side (and re-generate the q144 mirror in
    * the same commit — see verify-skill round-4 notes). */
  def emdKsDrift(
      events: DataFrame,
      keyCol: Column,
      periodCol: Column,
      periodStepMs: Long,
      valueCol: Column,
      binWidth: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = shiftJoinedCells(events, keyCol, periodCol, periodStepMs,
      valueCol, binWidth)
    val w = Window.partitionBy("key", "period").orderBy("bin")
    def big(c: Column) = c.cast("decimal(19,0)")
    val cum = cells
      .withColumn("d",
        abs(big(sum("c").over(w)) * big(col("m"))
          - big(sum("q").over(w)) * big(col("n"))))
      .withColumn("gap",
        coalesce(lead(col("bin"), 1).over(w) - col("bin"), lit(0L)))
    val nm = col("n").cast("double") * col("m").cast("double")
    cum.groupBy("key", "period", "n", "m")
      .agg(sum(col("d") * big(col("gap"))).as("__s"),
        max(col("d")).as("__d"))
      .select(col("key"), col("period"), col("n"), col("m"),
        (lit(binWidth) * col("__s").cast("double") / nm).as("emd"),
        (col("__d").cast("double") / nm).as("ks"))
  }

  /** Rank-biased overlap (Webber et al. 2010, truncated RBO@k) between
    * each period's top-k ranked item list and its immediate predecessor's
    * — "did the heavy hitters change, and how high up?" — the
    * RANK-sensitive drift monitor next to [[histogramDrift]]'s
    * distributional ones. A matched item contributes to every depth
    * d >= max(rank, prev_rank), so its weight is the closed tail sum
    * w(m) = Σ_{d=m..k} p^(d-1)/d; RBO = (1-p)·Σ_matched w(max ranks).
    * Identical lists score 1 − p^k (the truncated maximum); disjoint
    * lists score 0.
    *
    * EXACT cross-engine: ranks are row_number under the deterministic
    * (count DESC, item ASC) order; the k weights are computed ONCE here
    * and embedded as shortest-round-trip literals in BOTH engines (via
    * [[rboWeights]]), and the per-period sum folds <= k weights in fixed
    * (m, item) order — raw doubles mirror bit-for-bit.
    *
    * Scale shape: one event-sized hash aggregate to (period, item)
    * counts; the rank window's `rnk <= k` filter pushes down as
    * WindowGroupLimit (no period's full item list survives); everything
    * after — the shift join, the fold — is (periods × k)-sized. */
  def rboDrift(
      events: DataFrame,
      itemCol: Column,
      periodCol: Column,
      periodStepMs: Long,
      k: Int = 10,
      p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    require(periodStepMs > 0, s"periodStepMs must be positive, got $periodStepMs")
    val counts = events
      .groupBy(periodCol.cast("long").as("period"), itemCol.as("item"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("period").orderBy(col("cnt").desc, col("item"))
    val ranked = counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("period"), col("item"), col("rnk"))
    val wArr = rboWeights(k, p)
    val prev = ranked.select(col("item"),
      (col("period") + lit(periodStepMs)).as("period"),
      col("rnk").as("rnk_prev"))
    val matched = ranked.join(prev, Seq("period", "item"))
      .withColumn("m", greatest(col("rnk"), col("rnk_prev")))
      .withColumn("wgt",
        element_at(array(wArr.map(lit(_)): _*), col("m").cast("int")))
    val folded = matched.groupBy("period")
      .agg(count(lit(1)).as("overlap_k"),
        aggregate(
          sort_array(collect_list(struct(col("m"), col("item"), col("wgt")))),
          lit(0.0), (acc, t) => acc + t.getField("wgt")).as("__s"))
    val periods = ranked.select("period").distinct()
    val pairs = periods.join(
      periods.select((col("period") + lit(periodStepMs)).as("period")),
      Seq("period"))
    pairs.join(folded, Seq("period"), "left")
      .select(col("period"),
        coalesce(col("overlap_k"), lit(0L)).as("overlap_k"),
        ((lit(1.0) - lit(p)) * coalesce(col("__s"), lit(0.0))).as("rbo"))
  }

  /** The k truncated-RBO tail weights w(m) = Σ_{d=m..k} p^(d-1)/d, folded
    * in ASCENDING depth order (d = m..k) — the exact doubles both engines
    * consume (the oracle embeds them via shortest-round-trip strings), so
    * any third mirror must fold the same way. */
  private[graft] def rboWeights(k: Int, p: Double): IndexedSeq[Double] = {
    val terms = (1 to k).map(d => math.pow(p, d - 1) / d)
    (1 to k).map(m => terms.drop(m - 1).foldLeft(0.0)(_ + _))
  }

  /** Seasonality strength per key — eta² of the hour-of-week profile:
    * SS_between / SS_total over the key's cents values grouped by
    * hour-of-week (0..167). ~1 means the weekly profile explains the
    * series (use the seasonal smoothers / calendar baselines); ~0 means
    * no weekly structure — the forecastability gate run before choosing
    * q50's Holt-Winters over q49's Holt, next to q91's "which period"
    * detectors. NULL where the key has zero variance.
    *
    * EXACT cross-engine: per-(key, hour-of-week) n/Σc/Σc² are integers at
    * any partitioning; SS_total is one fixed double chain and SS_between
    * folds the <= 168 group terms in ascending hour order — raw doubles
    * mirror the oracle bit-for-bit.
    *
    * Scale shape: ONE event-sized hash aggregate to (key, how) cells;
    * everything after is (keys × <= 168)-sized (a keyed collect fold, no
    * windows). */
  def seasonalityStrength(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      valueCol: Column): DataFrame = {
    val cents = (valueCol.cast("decimal(12,2)") * lit(100)).cast("long")
    val how = (floor(unix_millis(tsCol.cast("timestamp")) / lit(3600000.0))
      .cast("long") % lit(168L)).as("how")
    val cells = events
      .groupBy(keyCol.as("key"), how)
      .agg(count(lit(1)).as("n_g"), sum(cents).as("s_g"),
        sum(big19(cents) * big19(cents)).as("q_g"))
    val perKey = cells.groupBy("key")
      .agg(sum("n_g").as("n"), sum("s_g").as("s"),
        sum("q_g").as("q"), count(lit(1)).as("n_hours"),
        sort_array(collect_list(struct(col("how"), col("n_g"), col("s_g"))))
          .as("__cells"))
    val nD = col("n").cast("double")
    val sD = col("s").cast("double")
    val ssTotal = col("q").cast("double") - sD * sD / nD
    val ssBetween = aggregate(col("__cells"), lit(0.0),
      (acc, x) => acc + x.getField("s_g").cast("double")
        * x.getField("s_g").cast("double")
        / x.getField("n_g").cast("double")) - sD * sD / nD
    perKey.select(col("key"), col("n"), col("n_hours"),
      ssTotal.as("ss_total"), ssBetween.as("ss_between"),
      when(ssTotal > 0, ssBetween / ssTotal).as("eta_sq"))
  }

  /** decimal(19,0) cast shared by the exact product sums. */
  private def big19(c: Column): Column = c.cast("decimal(19,0)")

  /** Kaplan-Meier churn survival curve — "what fraction of keys are still
    * active t days after their first appearance?", the product-limit
    * estimator over key lifetimes with right-censoring at the observation
    * edge. A key is DEAD (churned) if its last active day is at least
    * `churnDays` before the data's max day (death time = last − first in
    * days); otherwise it is CENSORED at maxDay − first. One row per death
    * time: the risk-set size, deaths, and S(t) = Π_{s<=t} (1 − d_s/n_s).
    * Censor-only times multiply by an exact 1.0, so the fold runs
    * uniformly over all event times.
    *
    * EXACT cross-engine: lifetimes/risk sets/death counts are integers at
    * any partitioning; each factor is one division and the product folds
    * in ascending-t order on both engines — raw doubles mirror
    * bit-for-bit.
    *
    * Scale shape: ONE event-sized hash aggregate (per-key first/last
    * day); everything after is lifetime-spectrum-sized (distinct event
    * times <= days in span — thousands for years of data): a broadcast
    * 1-row (N, maxDay) anchor, an unpartitioned-but-tiny cumulative
    * window for risk sets (the q143 post-reduction tier), and a
    * span-bounded prefix fold per output row. */
  def churnSurvival(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      churnDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(churnDays >= 1, s"churnDays must be >= 1, got $churnDays")
    val day = unix_millis(date_trunc("day", tsCol).cast("timestamp"))
    // key-count-sized; the anchor and the lifetime classification share it
    val spans = Adaptive.materialize(events
      .groupBy(keyCol.as("key"))
      .agg((min(day) / lit(86400000L)).cast("long").as("f"),
        (max(day) / lit(86400000L)).cast("long").as("l")))
    val anchor = spans.agg(count(lit(1)).as("total"),
      max(col("l")).as("max_day"))
    val evts = spans.crossJoin(broadcast(anchor))
      .withColumn("dead", col("l") <= col("max_day") - churnDays)
      .withColumn("t",
        when(col("dead"), col("l") - col("f"))
          .otherwise(col("max_day") - col("f")))
      .groupBy(col("t"), col("total"))
      .agg(sum(when(col("dead"), 1L).otherwise(0L)).as("d"),
        sum(when(col("dead"), 0L).otherwise(1L)).as("c"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = evts
      .withColumn("n_risk",
        col("total") - coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
    val curve = risk
      .groupBy(col("total"))
      .agg(sort_array(collect_list(
        struct(col("t"), col("d"), col("n_risk")))).as("rows"))
      .select(col("rows"), posexplode(col("rows")))
      .withColumn("survival",
        aggregate(slice(col("rows"), lit(1), col("pos") + 1), lit(1.0),
          (acc, x) => acc * (lit(1.0)
            - x.getField("d").cast("double")
              / x.getField("n_risk").cast("double"))))
    curve.filter(col("col.d") > 0)
      .select(col("col.t").as("t_days"), col("col.n_risk").as("n_risk"),
        col("col.d").as("n_deaths"), col("survival"))
  }

  /** Shared scaffold of [[histogramDrift]] and [[psiDrift]]: per
    * (key, period, bin), the period's count `c` and its immediate
    * predecessor's `q` (0 where absent, both-absent bins don't exist),
    * plus both totals `n`/`m` — periods with no predecessor drop out.
    * The event-sized aggregate runs ONCE into the materialized cell table;
    * everything after is cell-granularity. */
  private def shiftJoinedCells(
      events: DataFrame,
      keyCol: Column,
      periodCol: Column,
      periodStepMs: Long,
      valueCol: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(periodStepMs > 0, s"periodStepMs must be positive, got $periodStepMs")
    // cell-sized; cells, totals and their +1-period shifts share it
    val cells = Adaptive.materialize(events
      .groupBy(keyCol.as("key"), periodCol.cast("long").as("period"),
        floor(valueCol / lit(binWidth)).cast("long").as("bin"))
      .agg(count(lit(1)).as("c")))
    val totals = cells.groupBy("key", "period").agg(sum("c").as("n"))
    val prevCells = cells.select(col("key"),
      (col("period") + lit(periodStepMs)).as("period"), col("bin"),
      col("c").as("q"))
    val prevTotals = totals.select(col("key"),
      (col("period") + lit(periodStepMs)).as("period"), col("n").as("m"))
    cells.join(prevCells, Seq("key", "period", "bin"), "full_outer")
      .select(col("key"), col("period"), col("bin"),
        coalesce(col("c"), lit(0L)).as("c"), coalesce(col("q"), lit(0L)).as("q"))
      .join(totals, Seq("key", "period"))
      .join(prevTotals, Seq("key", "period"))
  }

  /** Additive seasonal decomposition for fixed-decimal telemetry, with BIT-DETERMINISTIC
    * output at any parallelism: values are scaled to exact integers
    * (`decimals` fractional digits), so the event-sized cell sums are
    * associative integer adds (partial-aggregation order can't perturb
    * them), and the one remaining floating-point reduction — the seasonal
    * numerator over a key's cells — is folded in explicit trend-bucket
    * order from a sorted cell list. Plain double sums (the generic
    * variant) are only reproducible for a fixed partitioning; this variant
    * is reproducible, full stop — and therefore exactly mirrorable by a
    * sequential oracle.
    *
    * Scale shape: identical to the generic double-sum variant (one event-sized hash
    * aggregate to cells, then cell-sized derivations + one annotate join).
    * The sorted fold buffers one key's CELLS (days × phases), never rows. */
  def seasonalDecomposeExact(
      events: DataFrame,
      keyCol: Column,
      trendBucketCol: Column,
      phaseCol: Column,
      valueCol: Column,
      decimals: Int): DataFrame = {
    require(decimals >= 0 && decimals <= 9, s"decimals must be 0..9, got $decimals")
    val scale = math.pow(10.0, decimals)
    val tagged = events
      .withColumn("__key", keyCol)
      .withColumn("__tb", trendBucketCol)
      .withColumn("__ph", phaseCol)
    // cell-sized; the trend and seasonal derivations share it
    val cells = Adaptive.materialize(tagged
      .groupBy("__key", "__tb", "__ph")
      .agg(sum(round(valueCol * lit(scale)).cast("long")).as("__sv"),
        count(lit(1)).as("__c")))
    val trend = cells.groupBy("__key", "__tb")
      .agg((sum("__sv").cast("double") / (lit(scale) * sum("__c"))).as("trend"))
    val seasonal = cells.join(trend, Seq("__key", "__tb"))
      .groupBy("__key", "__ph")
      .agg(
        (aggregate(
          transform(
            sort_array(collect_list(struct(col("__tb"), col("__sv"), col("__c"),
              col("trend")))),
            x => x("__sv").cast("double") / lit(scale) - x("__c") * x("trend")),
          lit(0.0), (acc, x) => acc + x) / sum("__c")).as("seasonal"))
    tagged
      .join(trend, Seq("__key", "__tb"))
      .join(seasonal, Seq("__key", "__ph"))
      .withColumn("residual", valueCol - col("trend") - col("seasonal"))
      .drop("__key", "__tb", "__ph")
  }

  /** Mann-Kendall trend test + Sen's (Theil-Sen) slope per key — the
    * standard non-parametric "is this telemetry series monotonically
    * trending?" monitor (Mann 1945, Kendall 1975, Sen 1968; the
    * hydrology-standard formulation with the tie-corrected variance).
    *
    * Input contract: ONE row per (key, ts) — a rollup tier, not raw
    * events (the caller aggregates first; see q107). Values are compared
    * as integer cents (`decimal(12,2)·100`), so the S statistic, the tie
    * correction, and every sign are EXACT; the variance and z-score are
    * single-expression doubles over those integers and Sen's slope is a
    * rank-selected lower median of pairwise-slope doubles — each slope
    * computed with a fixed op order (cents diff → double → /100 → ÷ unit
    * count) so a SQL oracle reproduces every output bit-for-bit.
    *
    * Scale shape: the pairwise S/slope table is a per-key self EQUI-join
    * — one shuffle on the key, n·(n−1)/2 rows per key where n is the
    * series length at the ROLLUP tier (calendar-bounded: a year of daily
    * buckets is 66k pairs), never the raw-event count. The alternative
    * O(n log n) inversion-count form saves nothing at rollup sizes and
    * has no mirrorable SQL twin. Long arithmetic in the variance is exact
    * for n < 2^20 — far past any calendar-bounded series.
    *
    * Output per key: n, S, tie-corrected var(S), the continuity-corrected
    * z (null when var = 0, e.g. all values tied or n = 1), the 5%-level
    * trend label, and Sen's slope per `slopeUnitMs` (null when n < 2). */
  def mannKendall(
      series: DataFrame,
      keyCol: Column,
      tsCol: Column,
      valueCol: Column,
      slopeUnitMs: Long = 86400000L): DataFrame =
    seasonalMannKendall(series, keyCol, tsCol, valueCol, lit(0L), slopeUnitMs)

  /** Seasonal Mann-Kendall (Hirsch & Slack 1984) — the classic test made
    * robust to periodicity: observations are compared only WITHIN a
    * season (same hour-of-day, same month, …), so a diurnal or annual
    * cycle can't masquerade as a trend. S and the tie-corrected variance
    * are per-season sums (both exact longs here — one integer per (key,
    * season), summed before the single /18.0), the continuity-corrected z
    * uses the totals, and Sen's slope is the lower median over all
    * within-season pairwise slopes. With a constant `seasonCol` this IS
    * the classic test — [[mannKendall]] delegates here — because every
    * per-season integer collapses to the unpartitioned formula before any
    * double is formed.
    *
    * Same contract and scale shape as [[mannKendall]]: one row per
    * (key, ts), pairwise work is an equi-self-join on (key, season) —
    * seasonality CUTS the pair count (Σ n_g² ≤ n²), never grows it. */
  def seasonalMannKendall(
      series: DataFrame,
      keyCol: Column,
      tsCol: Column,
      valueCol: Column,
      seasonCol: Column,
      slopeUnitMs: Long = 86400000L): DataFrame = {
    require(slopeUnitMs > 0, s"slopeUnitMs must be positive, got $slopeUnitMs")
    val s0 = series.select(keyCol.as("key"), seasonCol.cast("long").as("__g"),
      unix_millis(tsCol.cast("timestamp")).as("__ts"),
      (valueCol.cast("decimal(12,2)") * lit(100)).cast("long").as("__vc"))
    // per-(key, season) counts and tie terms, then exact-long totals:
    // n = Σ n_g, varint = Σ_g [n_g(n_g−1)(2n_g+5) − Σ_t t(t−1)(2t+5)]
    val stats = s0.groupBy("key", "__g", "__vc").agg(count(lit(1)).as("__t"))
      .groupBy("key", "__g")
      .agg(sum(col("__t")).as("__ng"),
        sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)).as("__tsumg"))
      .groupBy("key")
      .agg(sum(col("__ng")).as("n"),
        sum(col("__ng") * (col("__ng") - 1) * (col("__ng") * 2 + 5)
          - col("__tsumg")).as("__varint"))
    val a = s0.select(col("key"), col("__g"), col("__ts").as("__ta"),
      col("__vc").as("__va"))
    val b = s0.select(col("key"), col("__g"), col("__ts").as("__tb"),
      col("__vc").as("__vb"))
    val pairs = a.join(b, Seq("key", "__g")).filter(col("__ta") < col("__tb"))
      .select(col("key"), col("__ta"), col("__tb"),
        signum(col("__vb") - col("__va")).cast("long").as("__sgn"),
        ((col("__vb") - col("__va")).cast("double") / lit(100.0) /
          ((col("__tb") - col("__ta")).cast("double") / lit(slopeUnitMs.toDouble)))
          .as("__slope"))
    val wp = Window.partitionBy("key")
    // (ta, tb) identifies a pair uniquely (ts unique per key; a pair lives
    // in at most one season), so the rank order is total and portable.
    // S rides the SAME key window as the Sen rank (r6, guide §2.4): the
    // old separate groupBy for S re-ran the whole pair self-join — the
    // query's dominant cost — a second time. A key with any pair always
    // has a rank-selected row (floor((np+1)/2) >= 1), so carrying the
    // exact long sum on that row covers exactly the keys the old S
    // aggregate produced; keys with no pairs fall to the same coalesce.
    val sen = pairs
      .withColumn("__s", sum("__sgn").over(wp))
      .withColumn("__rn",
        row_number().over(wp.orderBy(col("__slope"), col("__ta"), col("__tb"))))
      .withColumn("__np", count(lit(1)).over(wp))
      .filter(col("__rn") === floor((col("__np") + 1) / 2))
      .select(col("key"), col("__slope").as("sen_slope"), col("__s"))
    stats
      .join(sen, Seq("key"), "left")
      .withColumn("s", coalesce(col("__s"), lit(0L)))
      .withColumn("var_s", col("__varint").cast("double") / lit(18.0))
      .withColumn("z",
        when(col("var_s") === 0.0, lit(null).cast("double"))
          .when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      .withColumn("trend",
        when(col("z").isNull, lit("no trend"))
          .when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("no trend")))
      .select(col("key"), col("n"), col("s"), col("var_s"), col("z"),
        col("trend"), col("sen_slope"))
  }

  /** Trailing-`windowDays` distinct actives from MERGEABLE per-day HLL
    * sketches (Apache DataSketches via Spark's `hll_sketch_agg`) — the
    * at-scale twin of [[rollingActives]]'s exact sliding DISTINCT, and the
    * materialized form of the q45 cardinality tier: one event-sized
    * aggregate builds a day-count-sized sketch table (this is what a store
    * would PERSIST next to its rollups), then the trailing window is a
    * bounded ×windowDays fan-out of sketch blobs merged with
    * `hll_union_agg` — raw events are never re-read, and yesterday's
    * sketches never recompute. Same emit semantics as the exact op: one
    * row per OBSERVED day, covering [day−w+1, day].
    *
    * Determinism: DataSketches HLL register state is a commutative monoid
    * (per-register max), so the estimate is identical under any
    * partitioning or merge order; accuracy is the sketch's published
    * ~1.04/√2^lgK relative error, spec-bounded against the exact twin. */
  def rollingActivesSketch(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDays: Int,
      lgK: Int = 12): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    val dayMs = 86400000L
    // the stored tier: one sketch blob per day (persist-worthy at scale)
    val daily = events
      .select(keyCol.cast("string").as("key"),
        unix_millis(date_trunc("day", tsCol).cast("timestamp")).as("day"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("key"), lgK).as("__sk"))
    val observed = daily.select(col("day"))
    daily
      .select(explode(sequence(lit(0), lit(windowDays - 1))).as("__i"),
        col("day"), col("__sk"))
      .select((col("day") + col("__i") * lit(dayMs)).as("day"), col("__sk"))
      .join(observed, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"), true))
        .as("actives_approx"))
      .select(timestamp_millis(col("day")).as("day"), col("actives_approx"))
  }

  /** Trailing-`windowDays` quantiles from MERGEABLE per-day MRL sketches —
    * [[rollingActivesSketch]]'s move applied to percentiles: one
    * event-sized aggregate builds the per-(key, day) sketch tier (the
    * persist-worthy column [[QuantileSketch]] already cascades in q54),
    * then each trailing window is a bounded ×windowDays fan-out of stored
    * blobs merged per target day — a rolling p99 latency dashboard that
    * never re-reads raw events and never recomputes yesterday's sketches.
    * Emits one row per OBSERVED (key, day), covering [day−w+1, day].
    *
    * Determinism & exactness: the per-target merge folds blobs in source-
    * day order (sorted inside the bounded group), and below `k` total
    * window values no compaction ever fires, so quantiles are EXACTLY
    * quantile_cont under any partitioning — the regime the q128 oracle
    * pins (q54's license). Past capacity the output is rank-error-bounded
    * per `QuantileSketchSpec`. Scale shape: everything after the first
    * aggregate is (key·day)-sized; the merge group holds ≤ windowDays
    * sketches of O(k·log(n/k)) doubles each. */
  def rollingQuantileSketch(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      valueCol: Column,
      windowDays: Int,
      k: Int = 512): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val spark = events.sparkSession
    import spark.implicits._
    val dayMs = 86400000L
    val skAgg = new QuantileSketch.SketchAgg(k).toColumn
    // the stored tier: one sketch blob per (key, day)
    val daily = events
      .select(keyCol.cast("string").as("key"),
        unix_millis(date_trunc("day", tsCol).cast("timestamp")).as("day"),
        valueCol.cast("double").as("v"))
      .as[(String, Long, Double)]
      .groupByKey(r => (r._1, r._2)).mapValues(_._3).agg(skAgg.name("sk"))
    // each stored blob serves the windowDays target days it trails into
    val fanned = daily.flatMap { case ((key, day), sk) =>
      (0 until windowDays).iterator.map(i => (key, day + i * dayMs, day, sk))
    }
    fanned
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (kd: (String, Long), it: Iterator[(String, Long, Long, Kll)]) =>
        val blobs = it.toArray.sortBy(_._3)
        var sk = QuantileSketch.empty(k)
        var observed = false
        blobs.foreach { b =>
          if (b._3 == kd._2) observed = true
          sk = QuantileSketch.merge(sk, b._4)
        }
        (kd._1, kd._2, observed, sk.n,
          QuantileSketch.quantile(sk, 0.5),
          QuantileSketch.quantile(sk, 0.95),
          QuantileSketch.quantile(sk, 0.99))
      }
      .filter(_._3)
      .map(r => (r._1, r._2, r._4, r._5, r._6, r._7))
      .toDF("key", "day_ms", "window_n", "p50", "p95", "p99")
  }

  /** Population Stability Index drift — the ML-monitoring standard next to
    * [[histogramDrift]]'s total-variation distance: per (key, period),
    * PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) between the period's value
    * histogram and its immediate predecessor's, with the conventional
    * ε-substitution (an empty bin's proportion becomes `eps`, so the log
    * is always finite). Industry rule of thumb: PSI < 0.1 stable,
    * 0.1–0.25 moderate shift, > 0.25 drifted.
    *
    * Exactness: bin counts and totals are exact integers under any
    * partitioning; the PSI itself is transcendental, so the fold runs in
    * a FIXED order — terms are computed per bin ascending and summed
    * left-to-right over the collected (rollup-sized) bin list, the same
    * mirrorable-op-order discipline as the smoother oracles (and ln
    * parity JVM↔libm is the q65 BM25 precedent). Scale shape: identical
    * to [[histogramDrift]] — one event-sized aggregate into materialized
    * cells, self-joins at cell granularity, and the per-(key, period)
    * fold touches only that pair's own bins. */
  def psiDrift(
      events: DataFrame,
      keyCol: Column,
      periodCol: Column,
      periodStepMs: Long,
      valueCol: Column,
      binWidth: Double,
      eps: Double = 1e-4): DataFrame = {
    require(eps > 0, s"eps must be positive, got $eps")
    shiftJoinedCells(events, keyCol, periodCol, periodStepMs, valueCol, binWidth)
      .groupBy("key", "period", "n", "m")
      .agg(sort_array(collect_list(struct(col("bin"), col("c"), col("q"))))
        .as("__bins"))
      .withColumn("psi",
        aggregate(
          transform(col("__bins"), x => {
            val p = when(x("c") > 0L,
              x("c").cast("double") / col("n").cast("double")).otherwise(lit(eps))
            val q = when(x("q") > 0L,
              x("q").cast("double") / col("m").cast("double")).otherwise(lit(eps))
            (p - q) * log(p / q)
          }),
          lit(0.0), (acc, t) => acc + t))
      .select(col("key"), col("period"), col("n"), col("m"), col("psi"))
  }

  /** Per-series staleness / heartbeat report — the batch form of
    * Prometheus `absent_over_time` and TimescaleDB's `heartbeat_agg`: for
    * every key, when did it last report, how far behind the corpus
    * watermark is it, and is it STALE (age > `thresholdMs`)? The anchor
    * (corpus watermark) arrives as an explicit 1-row DataFrame with an
    * `anchor_ms` long column, broadcast like
    * [[RetentionOps.applyRetention]]'s pruned anchor — derive it from a
    * column-pruned scan of the base table, NOT from this op's own output.
    *
    * Exactness: counts, timestamps, age and the stale flag are all
    * integer; `mean_interval_ms` = (last−first)/(n−1) is the one double,
    * a single fixed-order division (NULL for n = 1). Scale shape: one
    * hash agg keyed on the series key (map-side partials, key-count-sized
    * result) + a broadcast 1-row cross join — no window, no sort. */
  def staleness(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      anchor: DataFrame,
      thresholdMs: Long): DataFrame = {
    require(thresholdMs > 0, s"thresholdMs must be positive, got $thresholdMs")
    events
      .select(keyCol.as("key"), unix_millis(tsCol.cast("timestamp")).as("__ts"))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), min("__ts").as("__first"),
        max("__ts").as("__last"))
      .crossJoin(broadcast(anchor))
      .select(col("key"), col("n"),
        col("__last").as("last_ts_ms"),
        (col("anchor_ms") - col("__last")).as("age_ms"),
        (col("anchor_ms") - col("__last") > thresholdMs).as("stale"),
        when(col("n") > 1, (col("__last") - col("__first")).cast("double")
          / (col("n") - 1).cast("double")).as("mean_interval_ms"))
  }

  /** Series-lifecycle churn — the cardinality-management rollup every TSDB
    * operator watches: per day, how many series were ACTIVE, how many were
    * BORN (first-ever observation that day) and how many RETIRED (last-ever
    * observation that day — right-censored at the corpus edge, so the final
    * day retires everything still alive; documented, not hidden).
    *
    * Exactness: all integers. Scale shape: one (key, day) distinct hash
    * agg over the events (map-side partials), a key-keyed min/max agg of
    * that rollup-sized table, an equi-join back on the key, and a final
    * day-keyed count agg — every post-scan stage is bounded by the series
    * count, never the event count. */
  def seriesChurn(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column): DataFrame = {
    val kd = events
      .select(keyCol.as("key"), date_trunc("day", tsCol).as("day"))
      .distinct()
    val life = kd.groupBy("key")
      .agg(min("day").as("__born"), max("day").as("__last"))
    kd.join(life, Seq("key"))
      .groupBy("day")
      .agg(count(lit(1)).as("active"),
        sum(when(col("day") === col("__born"), 1L).otherwise(0L)).as("born"),
        sum(when(col("day") === col("__last"), 1L).otherwise(0L)).as("retired"))
  }

  /** Apdex score rollup (the SRE latency-satisfaction standard): per
    * (key, bucket), counts of satisfied (≤ t), tolerating (≤ 4t) and
    * frustrated (> 4t) samples, and apdex = (satisfied + tolerating/2) /
    * total. Counts are exact integers; the score is one fixed-order double
    * expression — (sat + 0.5·tol) / total — an oracle mirrors verbatim.
    * Scale shape: a single hash agg with map-side partials; no window,
    * no join, no sort. */
  def apdex(
      events: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      valueCol: Column,
      t: Double): DataFrame = {
    require(t > 0, s"apdex threshold t must be positive, got $t")
    events
      .select(keyCol.as("key"), bucketCol.as("bucket"), valueCol.as("__v"))
      .groupBy("key", "bucket")
      .agg(sum(when(col("__v") <= t, 1L).otherwise(0L)).as("satisfied"),
        sum(when(col("__v") > t && col("__v") <= 4 * t, 1L).otherwise(0L))
          .as("tolerating"),
        sum(when(col("__v") > 4 * t, 1L).otherwise(0L)).as("frustrated"),
        count(lit(1)).as("total"))
      .withColumn("apdex",
        (col("satisfied").cast("double") + col("tolerating").cast("double") * 0.5)
          / col("total").cast("double"))
  }

  /** Period-over-period audience overlap — EXACT: per (key, period), the
    * distinct-member set algebra against the immediately preceding period:
    * |curr|, |prev|, |curr ∩ prev|, |curr ∪ prev| (inclusion–exclusion),
    * Jaccard, plus the retention bookkeeping every growth dashboard wants
    * (retained = ∩, new = curr − ∩, churned = prev − ∩). Periods whose
    * predecessor has no data emit nothing — the q116 drift-join semantics.
    *
    * Scale shape: ONE event-sized DISTINCT aggregate to (key, period,
    * member) pairs, then the intersection is a member-co-keyed self-join
    * at pair granularity (no set materialization per group), and the
    * per-period counts re-aggregate pair-sized streams. All counts are
    * exact integers — deterministic at any parallelism. At 100 TB the
    * pair table is what a store would persist; the sketch twin
    * [[distinctOverlapSketch]] replaces the member-keyed join with a
    * day-count-sized blob merge. */
  def distinctOverlap(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      memberCol: Column,
      periodMs: Long): DataFrame = {
    require(periodMs > 0, s"periodMs must be positive, got $periodMs")
    val pairs = events
      .select(keyCol.as("key"),
        (unix_millis(tsCol.cast("timestamp"))
          - pmod(unix_millis(tsCol.cast("timestamp")), lit(periodMs)))
          .as("period"),
        memberCol.cast("string").as("member"))
      .distinct()
    val counts = pairs.groupBy("key", "period")
      .agg(count(lit(1)).as("c"))
    val inter = pairs.as("a")
      .join(pairs.as("b"),
        col("a.key") === col("b.key")
          && col("a.member") === col("b.member")
          && col("a.period") === col("b.period") + lit(periodMs))
      .groupBy(col("a.key").as("key"), col("a.period").as("period"))
      .agg(count(lit(1)).as("retained"))
    counts.as("c")
      .join(counts.as("p"),
        col("c.key") === col("p.key")
          && col("c.period") === col("p.period") + lit(periodMs))
      .join(inter,
        col("c.key") === inter("key") && col("c.period") === inter("period"),
        "left")
      .select(col("c.key").as("key"), col("c.period").as("period"),
        col("c.c").as("curr_n"), col("p.c").as("prev_n"),
        coalesce(col("retained"), lit(0L)).as("retained"))
      .withColumn("union_n", col("curr_n") + col("prev_n") - col("retained"))
      .withColumn("new_n", col("curr_n") - col("retained"))
      .withColumn("churned_n", col("prev_n") - col("retained"))
      .withColumn("jaccard",
        round(col("retained").cast("double")
          / col("union_n").cast("double"), 6))
  }

  /** Period-over-period audience overlap from MERGEABLE HLL sketches — the
    * at-scale twin of [[distinctOverlap]]: one event-sized aggregate builds
    * a period-count-sized sketch table (persist-worthy, the q117 tier),
    * then consecutive periods are compared with sketch set algebra:
    * |∪| from `hll_union_agg`, |∩| by inclusion–exclusion
    * (|A| + |B| − |A∪B|, floored at 0). Raw events are never re-read and
    * no member-keyed join exists at all — the window is a blob merge.
    *
    * Accuracy: each estimate carries the sketch's ~1.04/√2^lgK relative
    * error ON THE SET IT MEASURES, so the intersection's ABSOLUTE error is
    * proportional to |A∪B| — inclusion–exclusion is the published-accurate
    * choice when the overlap is a nontrivial fraction of the union (the
    * retention case), and is spec-bounded against the exact twin.
    * Determinism: HLL register state is a commutative monoid — identical
    * under any partitioning or merge order. */
  def distinctOverlapSketch(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      memberCol: Column,
      periodMs: Long,
      lgK: Int = 12): DataFrame = {
    require(periodMs > 0, s"periodMs must be positive, got $periodMs")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    val daily = events
      .select(keyCol.as("key"),
        (unix_millis(tsCol.cast("timestamp"))
          - pmod(unix_millis(tsCol.cast("timestamp")), lit(periodMs)))
          .as("period"),
        memberCol.cast("string").as("member"))
      .groupBy("key", "period")
      .agg(hll_sketch_agg(col("member"), lgK).as("__sk"))
    daily.as("c")
      .join(daily.as("p"),
        col("c.key") === col("p.key")
          && col("c.period") === col("p.period") + lit(periodMs))
      .select(col("c.key").as("key"), col("c.period").as("period"),
        hll_sketch_estimate(col("c.__sk")).as("curr_est"),
        hll_sketch_estimate(col("p.__sk")).as("prev_est"),
        hll_sketch_estimate(
          hll_union(col("c.__sk"), col("p.__sk"), true)).as("union_est"))
      .withColumn("retained_est",
        greatest(col("curr_est") + col("prev_est") - col("union_est"),
          lit(0L)))
      .withColumn("jaccard_est",
        round(col("retained_est").cast("double")
          / col("union_est").cast("double"), 6))
  }

  /** Period-over-period audience overlap from THETA sketches — the full
    * retention algebra [[distinctOverlapSketch]]'s HLL blobs cannot give:
    * theta sketches close under intersection and difference with
    * PER-RESULT error bounds, so retained (∩), new (curr∖prev), and
    * churned (prev∖curr) come from real set operators instead of
    * inclusion–exclusion error stacking. Below 2^lgK distinct members per
    * (key, period) the sketch is in exact mode and every estimate is the
    * exact count (spec-asserted against [[distinctOverlap]]). `lgK` is
    * the sketches' log2 nominal entries; Spark checks its range.
    *
    * Scale shape: identical to the HLL variant — ONE event-sized
    * aggregate into a period-count-sized blob table (Spark's
    * `theta_sketch_agg`, partial+final like any native aggregate), then
    * consecutive periods join at blob granularity and Spark's
    * `theta_union`/`theta_intersection`/`theta_difference` run one
    * evaluation per pair. */
  def distinctOverlapTheta(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      memberCol: Column,
      periodMs: Long,
      lgK: Int = 12): DataFrame = {
    require(periodMs > 0, s"periodMs must be positive, got $periodMs")
    val daily = events
      .select(keyCol.as("key"),
        (unix_millis(tsCol.cast("timestamp"))
          - pmod(unix_millis(tsCol.cast("timestamp")), lit(periodMs)))
          .as("period"),
        memberCol.cast("string").as("member"))
      .groupBy("key", "period")
      .agg(theta_sketch_agg(col("member"), lgK).as("__sk"))
    daily.as("c")
      .join(daily.as("p"),
        col("c.key") === col("p.key")
          && col("c.period") === col("p.period") + lit(periodMs))
      .select(col("c.key").as("key"), col("c.period").as("period"),
        theta_sketch_estimate(col("c.__sk")).as("curr_est"),
        theta_sketch_estimate(col("p.__sk")).as("prev_est"),
        theta_sketch_estimate(theta_union(col("c.__sk"), col("p.__sk"), lgK))
          .as("union_est"),
        theta_sketch_estimate(theta_intersection(col("c.__sk"), col("p.__sk")))
          .as("retained_est"),
        theta_sketch_estimate(theta_difference(col("c.__sk"), col("p.__sk")))
          .as("new_est"),
        theta_sketch_estimate(theta_difference(col("p.__sk"), col("c.__sk")))
          .as("churned_est"))
      .withColumn("jaccard_est",
        round(col("retained_est").cast("double")
          / col("union_est").cast("double"), 6))
  }

  /** Per-key ordinary-least-squares linear trend of a fixed-decimal value
    * against an INTEGER time coordinate (e.g. hours since a fixed anchor):
    * slope (value units per x unit), intercept (value at x = 0), r², and n
    * — the parametric companion to [[mannKendall]]'s rank-based test, and
    * the capacity-planning primitive ("at this slope, the disk fills in
    * N days").
    *
    * Scale shape: ONE partial+final hash aggregate per key over five O(1)
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) — map-side
    * combinable, never buffers a series, no window, no join.
    *
    * EXACT cross-engine: x is an integer and y is scaled to integer
    * "cents" (`decimals`), so every sufficient statistic is an exact
    * integer sum (order-free under any partitioning); the closed-form
    * slope/intercept/r² are then fixed-order double arithmetic over
    * bit-identical operands, mirrored verbatim by the oracle. Magnitude
    * guard is the caller's: |x| ≤ ~1e6 and |y_cents| ≤ ~1e7 keep every
    * statistic below 2^53 at 1e6 rows/key. Keys with < 2 points or zero x
    * variance get NULL slope/intercept; zero y variance gets NULL r². */
  def linearTrend(
      events: DataFrame,
      keyCol: Column,
      xCol: Column,
      valueCol: Column,
      decimals: Int = 2): DataFrame = {
    require(decimals >= 0 && decimals <= 6,
      s"decimals must be in [0, 6], got $decimals")
    val scale = math.pow(10.0, decimals)
    val x = xCol.cast("long")
    val y = round(valueCol * lit(scale)).cast("long")
    val stats = events
      .groupBy(keyCol.as("key"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    olsFinalize(stats, scale)
  }

  /** Closed-form OLS finalize over the exact-integer sufficient statistics
    * (`n, sx, sy, sxy, sxx, syy` columns): fixed-order doubles over
    * order-free operands, so the result is bit-identical at any
    * partitioning (and any ARRIVAL order — the sums are a commutative
    * monoid, which is what makes [[graft.streaming.StreamStage.trendStream]]
    * ≡ batch exactly). Shared by the batch op and the streaming twin;
    * mirrored verbatim by the q123 oracle. */
  private[graft] def olsFinalize(stats: DataFrame, scale: Double): DataFrame = {
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val cov = nd * d("sxy") - d("sx") * d("sy")
    val varX = nd * d("sxx") - d("sx") * d("sx")
    val varY = nd * d("syy") - d("sy") * d("sy")
    val slopeC = cov / varX
    stats
      .withColumn("slope",
        when(varX > 0, slopeC / lit(scale)))
      .withColumn("intercept",
        when(varX > 0,
          (d("sy") / nd - slopeC * (d("sx") / nd)) / lit(scale)))
      .withColumn("r2",
        when(varX > 0 && varY > 0, (cov / varX) * (cov / varY)))
      .drop("sx", "sy", "sxy", "sxx", "syy")
  }

  /** Lead–lag cross-correlation function between aligned series: for every
    * unordered series pair (a < b) and every lag ℓ ∈ [−maxLag, +maxLag],
    * Pearson r between a's bucket series and b's shifted by ℓ buckets
    * (r at lag ℓ pairs a[t] with b[t+ℓ]; positive ℓ ⇒ b LEADS a). The
    * root-cause primitive one step past [[pairCorrelation]]'s lag-0 answer:
    * "errors rise 2 hours after deploys" is a CCF peak at ℓ = −2.
    *
    * Scale shape: the only event-sized work is the alignment aggregate
    * (one partial+final hash agg to (series, bucketIdx) means). The lag
    * fan-out (×(2·maxLag+1)), self-join, and corr all run on that
    * bucket-count-sized table — S·(S−1)/2 · (2L+1) output rows for S
    * series names, never row-count-sized. corr is an O(1)-state co-moment
    * aggregate, so nothing buffers a series. Buckets where either side is
    * absent drop from that (pair, lag)'s sample (inner join). */
  def crossCorrelation(
      events: DataFrame,
      seriesCol: Column,
      bucketIdxCol: Column,
      valueCol: Column,
      maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val aligned = events
      .groupBy(seriesCol.as("series"), bucketIdxCol.cast("long").as("bucket"))
      .agg(avg(valueCol).as("v"))
    val lags = array((-maxLag to maxLag).map(l => lit(l)): _*)
    val a = aligned.select(col("series").as("series_a"), col("bucket"),
      col("v").as("__va"))
    // b shifted: row (series_b, t+lag, vb) joins a's bucket t under key
    // t = (t+lag) - lag
    val b = aligned
      .withColumn("lag", explode(lags))
      .select(col("series").as("series_b"),
        (col("bucket") - col("lag")).as("bucket"), col("lag"),
        col("v").as("__vb"))
    a.join(b, Seq("bucket"))
      .filter(col("series_a") < col("series_b"))
      .groupBy("series_a", "series_b", "lag")
      .agg(corr(col("__va"), col("__vb")).as("r"),
        count(lit(1)).as("n_buckets"))
  }

  /** Per-key inter-arrival (gap) statistics: how bursty is each series?
    * Emits gap count, exact mean/min/max gap in ms, plus coefficient of
    * variation and the Goh–Barabási burstiness index B = (σ−μ)/(σ+μ)
    * (B → −1 periodic, 0 Poisson, → 1 bursty) over SECOND-resolution gaps
    * — the traffic-shape rollup behind crawl politeness and scrape-budget
    * decisions.
    *
    * Scale shape: one keyed window pass for the lag (single hash exchange,
    * the [[deltaRate]] shape) and one partial+final hash aggregate; O(1)
    * state per row everywhere.
    *
    * EXACT cross-engine: gaps are integer ms; the dispersion moments use
    * floor(gap/1000) so Σg and Σg² stay exact integer sums at any
    * partitioning (a 30-day gap in ms would push Σ(g²) past 2^53 — seconds
    * keep g² ≤ ~7e12 for year-scale gaps), and σ²/CV/B are fixed-order
    * doubles over those exact sums, mirrored verbatim by the oracle.
    * Keys with < 2 gaps get NULL cv/burstiness (sample variance needs
    * n ≥ 2); a zero mean gap (all duplicates) gets NULL cv. */
  def interArrival(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
    val tsMs = unix_millis(tsCol.cast("timestamp"))
    val gapMs = tsMs - lag(tsMs, 1).over(w)
    val withGap = events
      .withColumn("__key", keyCol)
      .withColumn("__gap", gapMs)
      .filter(col("__gap").isNotNull)
    val gSec = floor(col("__gap") / lit(1000L)).cast("long")
    val stats = withGap
      .groupBy(col("__key").as("key"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__gap")).as("__sg"),
        min(col("__gap")).as("min_gap_ms"),
        max(col("__gap")).as("max_gap_ms"),
        sum(gSec).as("__sgs"), sum(gSec * gSec).as("__sgs2"))
    val nd = col("n_gaps").cast("double")
    def d(c: String) = col(c).cast("double")
    val meanS = d("__sgs") / nd
    val varS = (d("__sgs2") - d("__sgs") * d("__sgs") / nd) / (nd - lit(1.0))
    // clamp FP-cancellation negatives (exact-zero variance lands at 0.0,
    // but guard the general case so sqrt never emits NaN)
    val sd = sqrt(greatest(varS, lit(0.0)))
    stats
      .withColumn("mean_gap_ms", d("__sg") / nd)
      .withColumn("cv",
        when(col("n_gaps") >= 2 && meanS > 0, sd / meanS))
      .withColumn("burstiness",
        when(col("n_gaps") >= 2 && (sd + meanS) > 0,
          (sd - meanS) / (sd + meanS)))
      .drop("__sg", "__sgs", "__sgs2")
  }

  /** Per-series autocorrelation function: Pearson r between each series'
    * bucket values and the same series shifted by ℓ ∈ [1, maxLag] buckets
    * (r at lag ℓ pairs v[t] with v[t+ℓ]). The seasonality fingerprint
    * [[crossCorrelation]] computes across series, turned inward — an ACF
    * spike at ℓ = 24 on hourly buckets is a daily cycle, and a slow decay
    * is trend ([[graft.kernel.WindowSize]] uses the same statistic to pick
    * kernel windows; this is its SQL-facing rollup form).
    *
    * Scale shape: identical to [[crossCorrelation]] — one event-sized
    * alignment aggregate to (series, bucket) means, then the lag fan-out,
    * self-join, and O(1)-state corr all run at bucket granularity
    * (S · maxLag output rows). Buckets without a ℓ-ahead partner drop
    * from that lag's sample (inner join). */
  def autoCorrelation(
      events: DataFrame,
      seriesCol: Column,
      bucketIdxCol: Column,
      valueCol: Column,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val aligned = events
      .groupBy(seriesCol.as("series"), bucketIdxCol.cast("long").as("bucket"))
      .agg(avg(valueCol).as("v"))
    val a = aligned.select(col("series"), col("bucket"), col("v").as("__va"))
    // the row at bucket t+lag re-keyed to t, so the join pairs v[t], v[t+lag]
    val b = aligned
      .withColumn("lag", explode(array((1 to maxLag).map(l => lit(l)): _*)))
      .select(col("series"), (col("bucket") - col("lag")).as("bucket"),
        col("lag"), col("v").as("__vb"))
    a.join(b, Seq("series", "bucket"))
      .groupBy("series", "lag")
      .agg(corr(col("__va"), col("__vb")).as("r"),
        count(lit(1)).as("n_buckets"))
  }

  /** Crawl revisit scheduling — the Cho–Garcia-Molina (TOIT 2003)
    * frequency-of-change estimator turned into a per-url recrawl policy:
    * from n observations of which X showed a changed value, the
    * bias-corrected Poisson rate is λ̂·Δ̄ = −ln((n−X+0.5)/(n+0.5)) (finite
    * even at X = n, exactly 0 at X = 0), and the revisit interval that
    * keeps expected freshness ≥ `freshness` is τ = −ln(freshness)/λ̂,
    * clamped to [minHours, maxHours] (a never-changing page degrades to
    * the max cadence via τ = +∞ → clamp, not a special case).
    *
    * Exactness: change detection compares integer cents to the previous
    * observation under a (ts, tie) total order, so n/X/first/last are
    * exact integers at any parallelism; Δ̄, λ̂ and τ are fixed-order
    * doubles over those integers (ln parity JVM ↔ libm per the q65/q116
    * precedent), mirrored verbatim by the oracle. Scale shape: one keyed
    * window pass ([[deltaRate]]'s single hash exchange) + one hash
    * aggregate; only keys with ≥ 2 observations emit. */
  def revisitSchedule(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      valueCol: Column,
      freshness: Double = 0.95,
      minHours: Double = 1.0,
      maxHours: Double = 720.0): DataFrame = {
    require(freshness > 0 && freshness < 1,
      s"freshness must be in (0, 1), got $freshness")
    require(minHours > 0 && minHours <= maxHours,
      s"need 0 < minHours <= maxHours, got [$minHours, $maxHours]")
    val w = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
    val tsMs = unix_millis(tsCol.cast("timestamp"))
    val cents = round(valueCol * lit(100.0)).cast("long")
    val changed = when(lag(cents, 1).over(w).isNotNull &&
      lag(cents, 1).over(w) =!= cents, 1L).otherwise(0L)
    val stats = events
      .select(keyCol.as("key"), tsMs.as("__ts"), changed.as("__chg"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_obs"), sum("__chg").as("n_changes"),
        min("__ts").as("__first"), max("__ts").as("__last"))
      .filter(col("n_obs") >= 2)
    val nd = col("n_obs").cast("double")
    val meanMs = (col("__last") - col("__first")).cast("double") / (nd - lit(1.0))
    val lamMs = (lit(0.0) - log((nd - col("n_changes").cast("double")
      + lit(0.5)) / (nd + lit(0.5)))) / meanMs
    val tauHours = (lit(0.0) - log(lit(freshness))) / lamMs / lit(3600000.0)
    stats
      .withColumn("mean_interval_ms", meanMs)
      .withColumn("lambda_per_day", lamMs * lit(86400000.0))
      // X = 0 pins λ̂ to exactly 0.0 (−ln 1); τ would be a ÷0 — answer the
      // policy question directly instead of relying on ∞-clamp parity
      .withColumn("revisit_hours",
        when(col("n_changes") === 0, lit(maxHours))
          .otherwise(least(lit(maxHours), greatest(lit(minHours), tauHours))))
      .drop("__first", "__last")
  }

  /** Robust central tendency per (key, period): the α-trimmed mean (drop
    * the floor(α·n) smallest and largest values) and the matching
    * winsorized mean (clamp them to the kept range instead) — the
    * outlier-resistant rollup between [[zscoreOutliers]]'s flagging and a
    * plain average that one wild scrape can poison.
    *
    * EXACT cross-engine: values rank as integer cents under a
    * (cents, tie) total order, the kept-range sums/mins/maxes are exact
    * integers at any parallelism, and each mean is ONE fixed-order double
    * division — winsorization needs no second pass because the clamped
    * tails contribute exactly t·(min_kept + max_kept) cents. Groups with
    * n ≤ 2·floor(α·n) (nothing survives the trim) emit nothing. Scale
    * shape: one keyed window pass (rank + count share a single sort) and
    * one hash aggregate; no group is ever buffered. */
  def trimmedMean(
      events: DataFrame,
      keyCol: Column,
      periodCol: Column,
      valueCol: Column,
      tieCol: Column,
      alpha: Double = 0.1): DataFrame = {
    require(alpha >= 0 && alpha < 0.5, s"alpha must be in [0, 0.5), got $alpha")
    val cents = round(valueCol * lit(100.0)).cast("long")
    // rank and count share one (key, period) exchange + sort
    val ranked = events
      .select(keyCol.as("key"), periodCol.as("period"), cents.as("__c"),
        tieCol.as("__tie"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("key", "period").orderBy(col("__c"), col("__tie"))))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy("key", "period")))
    val t = floor(lit(alpha) * col("__n")).cast("long")
    ranked
      .filter(col("__rn") > t && col("__rn") <= col("__n") - t)
      .groupBy(col("key"), col("period"), col("__n").as("n"),
        floor(lit(alpha) * col("__n")).cast("long").as("trimmed_each"))
      .agg(sum("__c").as("__sum"), min("__c").as("__min"),
        max("__c").as("__max"), count(lit(1)).as("__kept"))
      .select(col("key"), col("period"), col("n"), col("trimmed_each"),
        (col("__sum").cast("double")
          / (lit(100.0) * col("__kept").cast("double"))).as("trimmed_mean"),
        ((col("__sum") + col("trimmed_each") * (col("__min") + col("__max")))
          .cast("double")
          / (lit(100.0) * col("n").cast("double"))).as("winsor_mean"))
  }

  /** Per-period traffic concentration over units (urls, hosts, shards):
    * the Gini coefficient (rank-weighted form
    * G = Σᵢ(2i−n−1)·cᵢ / (n·Σc) over counts sorted ascending), the
    * Herfindahl–Hirschman index Σ(cᵢ/Σc)², and the top unit's share —
    * the crawl-equity / hot-shard rollup: "is today's traffic one host?"
    * answered next to [[typeEntropy]]'s within-series mix.
    *
    * EXACT cross-engine: unit counts are exact integers; the Gini
    * numerator Σ(2i−n−1)·cᵢ and the HHI numerator Σcᵢ² are exact integer
    * sums (ranks are deterministic under the (count, unit) order), and
    * each index is ONE fixed-order double division. Scale shape: one
    * event-sized hash aggregate to (period, unit) counts, then a
    * unit-count-sized window rank + hash aggregate per period — no
    * event-sized sort anywhere. */
  def concentration(
      events: DataFrame,
      periodCol: Column,
      unitCol: Column): DataFrame = {
    val counts = events
      .groupBy(periodCol.as("period"), unitCol.as("unit"))
      .agg(count(lit(1)).as("c"))
    val i = row_number().over(
      Window.partitionBy("period").orderBy(col("c"), col("unit"))).cast("long")
    val ranked = counts
      .withColumn("__w", (lit(2L) * i - count(lit(1)).over(
        Window.partitionBy("period")) - lit(1L)) * col("c"))
    val agg = ranked
      .groupBy("period")
      .agg(count(lit(1)).as("n_units"), sum("c").as("total"),
        sum("__w").as("__gnum"), sum(col("c") * col("c")).as("__c2"),
        max("c").as("__cmax"))
    val sd = col("total").cast("double")
    agg
      .withColumn("gini",
        col("__gnum").cast("double") / (col("n_units").cast("double") * sd))
      .withColumn("hhi", col("__c2").cast("double") / (sd * sd))
      .withColumn("top_share", col("__cmax").cast("double") / sd)
      .drop("__gnum", "__c2", "__cmax")
  }

  /** Per-(key, period) categorical-mix diversity: Shannon entropy (nats),
    * its [0, 1] normalization H/ln(k), and the Gini–Simpson index
    * 1 − Σp² over the `typeCol` distribution — the crawl-diversity /
    * traffic-mix rollup ("did this url collapse to one event type?")
    * beside [[psiDrift]]'s period-over-period drift.
    *
    * Exactness: per-type counts, totals, and Σc² are exact integers under
    * any partitioning; entropy is transcendental, so its terms fold in a
    * FIXED type-ascending order from an explicit 0.0 over the collected
    * (key, period)-sized cell list — the [[psiDrift]] discipline, ln parity
    * JVM StrictMath ↔ libm per the q65/q116 precedent. A single-type group
    * gets entropy exactly 0.0 (1·ln 1), NULL norm_entropy (ln 1 = 0
    * denominator needs k ≥ 2), and simpson exactly 0.0. Scale shape: one
    * event-sized hash aggregate to cells, then everything runs at cell
    * granularity; no window, no sort of event-sized data. */
  def typeEntropy(
      events: DataFrame,
      keyCol: Column,
      periodCol: Column,
      typeCol: Column): DataFrame = {
    val cells = events
      .groupBy(keyCol.as("key"), periodCol.as("period"), typeCol.as("type"))
      .agg(count(lit(1)).as("c"))
    val nd = col("n_events").cast("double")
    cells
      .groupBy("key", "period")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("__s2"),
        sort_array(collect_list(struct(col("type"), col("c"))))
          .as("__cells"))
      .withColumn("entropy",
        lit(0.0) - aggregate(
          transform(col("__cells"), x => {
            val p = x("c").cast("double") / nd
            p * log(p)
          }),
          lit(0.0), (acc, t) => acc + t))
      .withColumn("norm_entropy",
        when(col("n_types") >= 2,
          col("entropy") / log(col("n_types").cast("double"))))
      .withColumn("simpson",
        lit(1.0) - col("__s2").cast("double") / (nd * nd))
      .select(col("key"), col("period"), col("n_events"), col("n_types"),
        col("entropy"), col("norm_entropy"), col("simpson"))
  }

  /** Bloom-gated NEW-entity detection — the crawl-frontier primitive
    * ("which of today's keys have we never seen before?"): keys of the
    * current window (ts ≥ `splitMs`) absent from the prior window, with
    * event count and first-seen timestamp. The result is EXACT — identical
    * to a plain anti-join — the Bloom filter is purely a pruning layer:
    * a negative probe is definitively new (no false negatives), so only
    * the probe-POSITIVE remainder pays the exact anti-join shuffle. On a
    * frontier where most keys are new (the crawl steady state) that
    * shrinks the join's left side by the new-key fraction; the false-
    * positive rate `fpp` only moves work between the two paths, never
    * the answer.
    *
    * Mechanics: the prior window folds into ONE bounded
    * `BloomFilterAggregate` sketch (bit-OR merge — order-free), collected
    * to the driver and embedded as a constant (Spark's own runtime-filter
    * contract: `BloomFilterMightContain` requires a constant or scalar
    * subquery), so the probe is a codegen'd map-side filter with no
    * join. The collect is O(numBits/8) — a deliberate driver-sized
    * sketch, like the IVF centroids. An empty prior window short-circuits:
    * everything is new, no probe, no join. */
  def newKeysGate(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      splitMs: Long,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    require(expectedItems > 0, s"expectedItems must be > 0: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val tsMs = unix_millis(tsCol.cast("timestamp"))
    val prior = events.filter(tsMs < splitMs).select(keyCol.as("key"))
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bloomAgg = Bridge.column(new BloomFilterAggregate(
      Bridge.expression(col("key")),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val blob = prior.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]]("bf")
    val current = events
      .filter(tsMs >= splitMs)
      .select(keyCol.as("key"), tsMs.as("__ts"))
    val newEvents =
      if (blob == null) current // empty prior window: every key is new
      else {
        val maybeSeen = Bridge.column(BloomFilterMightContain(
          Literal(blob, BinaryType), Bridge.expression(col("key"))))
        // a NULL key probes to NULL — route it around the Bloom filter
        // into the exact anti-join branch (where, as in a plain left_anti,
        // a null key never matches and survives as "new"), so both the
        // Bloom and the empty-prior paths keep null-key rows identically
        val probed = current.withColumn("__maybe", maybeSeen)
        probed.filter(col("__maybe") === false).drop("__maybe")
          .unionByName(
            probed.filter(col("__maybe").isNull || col("__maybe"))
              .drop("__maybe")
              .join(prior, Seq("key"), "left_anti"))
      }
    newEvents.groupBy("key")
      .agg(count(lit(1)).as("n_events"), min("__ts").as("first_ts_ms"))
  }

  /** EXACT trailing-window distinct actives — one row per day in the data
    * span with the count of keys active at least once in the trailing
    * `windowDays` days (the true WAU/MAU curve; the exact twin of the q117
    * HLL-sketch tier), zeros included. [[rollingActives]] is the same count
    * on observed days only. EXACT cross-engine: pure integer day/count
    * arithmetic.
    *
    * Scale shape: [[trailingCounts]]' dedup-first count; one final left
    * join of the day-count rows, BROADCAST, against the day spine
    * (span/86400000 rows built from ONE 1-row min/max aggregate). */
  def trailingActives(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDays: Int = 7): DataFrame = {
    val dayMs = 86400000L
    val counts = trailingCounts(events, keyCol, tsCol, windowDays)
    val spine = events
      .agg(
        unix_millis(date_trunc("day", min(tsCol)).cast("timestamp")).as("lo"),
        unix_millis(date_trunc("day", max(tsCol)).cast("timestamp")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(dayMs)))
        .as("day_ms"))
    // hint the RIGHT side: Spark cannot broadcast-build the left of a
    // left-outer join, so broadcast(spine) would be silently ignored;
    // counts is day-count-sized after its aggregate, the legitimately
    // broadcastable side at any scale
    spine.join(broadcast(counts), Seq("day_ms"), "left")
      .select(col("day_ms"),
        coalesce(col("actives"), lit(0L)).as("actives"))
  }

  /** `(day_ms, actives)`: per day, the distinct keys active in the
    * `windowDays` days ending on it, for every day some key's window
    * covers (days past the last event included, empty days absent).
    *
    * The naive shapes both fail at 100 TB: per-day count-distinct over a
    * 7-day self-join re-reads each event 7x and holds per-window distinct
    * sets; a distinct-per-window explode fans every (key, day) row out 7x
    * BEFORE deduplication. This dedups FIRST (one (key, day) row per
    * active day), then uses the classic first-in-window identity: a key
    * counts toward window W exactly once, at its first active day inside
    * [W−(n−1), W] — i.e. an active day `d` with previous active gap g
    * covers windows [max(d, prev+n), d+n−1]. That range explode is <= n
    * rows per DEDUPED (key, day) pair and needs only a lag() over the
    * key's own days, so total work is n·|distinct(key,day)| with no
    * distinct-set state anywhere. NULL keys count as one key; NULL
    * timestamps cover no day.
    *
    * Scale shape: one hash-distinct of (key, day); a key-partitioned lag
    * window; a <= n-row sequence explode; one day-keyed hash aggregate. */
  private def trailingCounts(
      events: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDays: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayMs = 86400000L
    val win = lit(windowDays.toLong * dayMs)
    val ud = events
      .select(keyCol.as("key"),
        unix_millis(date_trunc("day", tsCol).cast("timestamp")).as("day"))
      .distinct()
    val w = Window.partitionBy("key").orderBy(col("day"))
    ud.withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("lo",
        when(col("prev").isNull, col("day"))
          .otherwise(greatest(col("day"), col("prev") + win)))
      .withColumn("hi", col("day") + win - lit(dayMs))
      .select(explode(sequence(col("lo"), col("hi"), lit(dayMs))).as("day_ms"))
      .groupBy("day_ms").agg(count(lit(1)).as("actives"))
  }

  /** Rolling-window Pearson correlation between two event types' hourly
    * volumes — "are purchases still tracking views over the last 24h?",
    * the live companion to [[crossCorrelation]]'s global lag sweep. Per
    * hourly bucket: the correlation of the two types' decimal-cents value
    * sums over the trailing `windowBuckets` PRESENT hours (a RANGE frame
    * on the bucket epoch, so true wall-clock trailing across gaps — the
    * q87/q111 discipline; hours with no events at all contribute nothing
    * rather than fabricated zeros). NULL when either side has zero
    * variance in the window.
    *
    * EXACT cross-engine: per-bucket sums are decimal-exact integers at
    * any partitioning, the six windowed sufficient statistics are
    * exact-integer (decimal/HUGEINT) sums of their products, and the
    * Pearson finalize is a fixed chain of double ops over them — raw
    * doubles mirror the oracle bit-for-bit.
    *
    * Scale shape: the only event-sized work is one hash aggregate to
    * hourly cells (map-side combine). The rolling window is unpartitioned
    * BUT runs over the BUCKET-COUNT-sized aggregate (hours in the data
    * span — ~87k rows for a decade), the same post-reduction tier as the
    * q85 top-k; it is never event-sized. */
  def rollingCorrelation(
      events: DataFrame,
      typeCol: Column,
      tsCol: Column,
      valueCol: Column,
      typeA: String,
      typeB: String,
      windowBuckets: Int = 24): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowBuckets >= 2,
      s"windowBuckets must be >= 2, got $windowBuckets")
    val bucketMs = 3600000L
    val cents = (valueCol.cast("decimal(12,2)") * lit(100)).cast("long")
    val aligned = events
      .filter(typeCol.isin(typeA, typeB))
      .groupBy(unix_millis(date_trunc("hour", tsCol).cast("timestamp"))
        .as("bucket_ms"))
      .agg(
        coalesce(sum(when(typeCol === typeA, cents)), lit(0L)).as("x"),
        coalesce(sum(when(typeCol === typeB, cents)), lit(0L)).as("y"))
    val w = Window.orderBy(col("bucket_ms"))
      .rangeBetween(-(windowBuckets - 1L) * bucketMs, 0L)
    def big(c: Column) = c.cast("decimal(19,0)")
    def dsum(c: Column) = sum(c).over(w).cast("double")
    val stats = aligned.select(col("bucket_ms"),
      count(lit(1)).over(w).as("n_buckets"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(big(col("x")) * big(col("y"))).as("sxy"),
      dsum(big(col("x")) * big(col("x"))).as("sxx"),
      dsum(big(col("y")) * big(col("y"))).as("syy"))
    val nD = col("n_buckets").cast("double")
    val cov = nD * col("sxy") - col("sx") * col("sy")
    val varx = nD * col("sxx") - col("sx") * col("sx")
    val vary = nD * col("syy") - col("sy") * col("sy")
    stats.select(col("bucket_ms"), col("n_buckets"),
      when(varx > 0 && vary > 0, cov / sqrt(varx * vary)).as("corr"))
  }
}
