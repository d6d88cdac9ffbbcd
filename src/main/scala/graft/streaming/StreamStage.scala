package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag
import graft.kernel.streaming.{SegSnapshot, StreamingClaSPSegmentation}
import graft.ops.AnalyticsOps.exactCents
import graft.pipeline.SeriesPoint

/** One detected global change point of one series. `global_cp` is the index
  * in the per-url ingest order (reference semantics:
  * `claspy/streaming/segmentation.py:228-230`); `n_ingested` is the
  * detector's ingested count when it logged the point, in batch and
  * stream alike. */
final case class CpEvent(url: String, global_cp: Int, n_ingested: Long)

/** Per-url summary after replaying a series through the streaming detector. */
final case class StreamSummary(url: String, n_points: Long, window_size: Int,
    n_cps: Int, last_cp: Int)

/** One closed session from [[StreamStage.sessionizeStream]] (epoch millis). */
final case class SessionOut(url: String, session_start: Long, session_end: Long,
    n_events: Long)

/** Input row for [[StreamStage.activesStream]]: one activity event with the
  * two identity columns the q45 cardinality rollup sketches. */
final case class ActivityPoint(user: String, etype: String, ts: Long)

/** One staleness transition from [[StreamStage.staleStream]]: kind "stale"
  * fires at event-time `at` = last_ts + threshold when the watermark passes
  * it with nothing newer for the url; kind "recovered" fires at the first
  * newer point's ts. */
final case class StaleEvent(url: String, kind: String, last_ts: Long, at: Long)

/** Per-url state for [[StreamStage.staleStream]]: newest event ts seen and
  * whether an unrecovered stale alert is outstanding — two fields, O(urls)
  * total, independent of stream length. */
final case class StaleState(lastTs: Long, staleEmitted: Boolean)

/** Input row for the order-sensitive streaming twins ([[StreamStage.ewmaStream]],
  * [[StreamStage.deltaRateStream]]): a [[graft.pipeline.SeriesPoint]] plus the
  * explicit tie-break sequence the batch contracts
  * ([[graft.ops.AnalyticsOps.ewma]]/`deltaRate`) use for duplicate
  * timestamps, so stream ≡ batch holds on dup-ts inputs too. */
final case class TiedPoint(url: String, ts: Long, tie: Long, value: Double)

/** One smoothed point from [[StreamStage.ewmaStream]] (epoch millis). */
final case class EwmaOut(url: String, ts: Long, tie: Long, value: Double,
    ewma: Double)

/** One differenced point from [[StreamStage.deltaRateStream]]: NULL (None)
  * delta/rate at series heads, NULL rate on duplicate timestamps — the
  * batch [[graft.ops.AnalyticsOps.deltaRate]] semantics. */
final case class DeltaOut(url: String, ts: Long, tie: Long, value: Double,
    delta: Option[Double], rate: Option[Double])

/** One first-in-window membership row from
  * [[StreamStage.trailingActivesStream]]'s stage 1: this key contributes
  * exactly one such row to trailing window `day_ms`. */
final case class CoverOut(user: String, dayMs: Long)

/** One closed bucket from [[StreamStage.rollingCorrStream]]: the trailing
  * Pearson r over the last `windowBuckets` PRESENT hourly cells. */
final case class RollCorrOut(bucket_ms: Long, n_buckets: Long,
    corr: Option[Double])

/** One CLOSED run from [[StreamStage.changeStream]]: the run's first row
  * (ts, tie, value) plus how many raw readings it absorbed. */
final case class ChangeOut(url: String, ts: Long, tie: Long, value: Double,
    run_len: Long)

/** Output row of [[StreamStage.rateLimitStream]]. */
final case class RlOut(url: String, ts: Long, tie: Long,
    burst_used: Double, violation: Boolean)

/** Output row of [[StreamStage.trimmedStream]]. */
final case class TrimOut(url: String, bucket: Long, n: Long,
    trimmed_each: Long, trimmed_mean: Double, winsor_mean: Double)

/** One flagged point from [[StreamStage.madStream]] (bucket = epoch ms). */
final case class MadOut(url: String, bucket: Long, tie: Long, value: Double,
    median: Double, mad: Double, is_outlier: Boolean)

/** One enriched left row from [[StreamStage.asofStream]]: the event plus
  * the most recent right-side payload with `right.ts <= ts` (None until the
  * first right row for the url). */
final case class AsofOut(url: String, ts: Long, tie: Long, value: Double,
    payload: Option[Double])

/** One row of either side of [[StreamStage.asofStream]]'s replay: side 0
  * is the right (signal) side, side 1 the left (event) side. */
final case class SidedPoint(url: String, ts: Long, side: Int, tie: Long,
    value: Double)

/** One CUSUM point from [[StreamStage.cusumStream]]. */
final case class CusumOut(url: String, ts: Long, tie: Long, value: Double,
    cusum: Double, alarm: Boolean)

/** One smoothed point from [[StreamStage.holtStream]]. */
final case class HoltOut(url: String, ts: Long, tie: Long, value: Double,
    level: Double, trend: Double, forecast: Double)

/** One item event for [[StreamStage.heavyHittersStream]] (epoch millis). */
final case class ItemPoint(ts: Long, item: String)

/** One reported heavy hitter of one closed bucket. */
final case class HHBucketOut(bucket_start: Long, item: String, est: Long,
    err: Long, rank: Long)

/** Quantiles of one closed (url, bucket) group from
  * [[StreamStage.sketchQuantilesStream]]. */
final case class QuantileBucketOut(url: String, bucket_start: Long, n: Long,
    p50: Double, p95: Double)

/** One row of a closed bucket from [[StreamStage.zscoreStream]], scored
  * against its own bucket's population stats. */
final case class ZscoreOut(url: String, bucket_start: Long, ts: Long,
    value: Double, z: Option[Double], is_outlier: Boolean)

/** One closed-bucket time-weighted average from [[StreamStage.twaStream]]. */
final case class TwaOut(url: String, bucket_start: Long, twa: Option[Double],
    span_ms: Long, n: Long)

/** One smoothed point from [[StreamStage.holtWintersStream]]. */
final case class HwStreamOut(url: String, ts: Long, tie: Long, value: Double,
    level: Double, trend: Double, seasonal: Double, forecast: Double)

/** Running state of [[StreamStage.holtWintersStream]]: level, trend,
  * seasonal ring and ring rotation. */
final case class HwState(l: Double, b: Double, seas: Array[Double], rot: Int,
    primed: Boolean)

/** One funnel step completion — [[StreamStage.funnelStream]] appends exactly
  * one row per (user, step) the user reaches, at its completion event. */
final case class FunnelStepOut(user: String, step: Int, ts: Long, tie: Long)

/** One CLOSED alert episode from [[StreamStage.hysteresisStream]] — same
  * fields as the batch [[graft.ops.AnalyticsOps.hysteresisAlerts]] rows. */
final case class AlertEpisode(url: String, ep_start: Long, ep_end: Long,
    n_buckets: Long, peak: Double)

/** One closed-bucket burn-rate row from [[StreamStage.sloBurnStream]] —
  * same fields as the batch [[graft.ops.AnalyticsOps.sloBurnRate]]. */
final case class SloOut(url: String, bucket: Long, err: Long, tot: Long,
    burn_short: Double, burn_long: Double, alert: Boolean)

/** One M4-selected row from [[StreamStage.m4Stream]]. */
final case class M4Out(url: String, bucket: Long, ts: Long, tie: Long,
    value: Double)
/** One M4 extreme candidate. */
final case class M4Cand(ts: Long, tie: Long, value: Double)
/** M4 bucket state: current extremes + the rows attaining each (ties
  * only — extremes are monotone, displaced candidates can never win). */
final case class M4State(minTs: Long, maxTs: Long, minV: Double, maxV: Double,
    atMinTs: Seq[M4Cand], atMaxTs: Seq[M4Cand],
    atMinV: Seq[M4Cand], atMaxV: Seq[M4Cand])

/** One closed-period drift row from [[StreamStage.driftStream]] — same
  * fields as the batch [[graft.ops.AnalyticsOps.histogramDrift]]. */
final case class DriftOut(url: String, period: Long, n: Long, m: Long,
    tvd: Double)

/** One closed-period PSI row from [[StreamStage.psiDriftStream]] — same
  * fields as the batch [[graft.ops.AnalyticsOps.psiDrift]]. */
final case class PsiOut(url: String, period: Long, n: Long, m: Long,
    psi: Double)

/** One closed-period EMD+KS row from [[StreamStage.emdKsDriftStream]] —
  * same fields as the batch [[graft.ops.AnalyticsOps.emdKsDrift]]. */
final case class EmdOut(url: String, period: Long, n: Long, m: Long,
    emd: Double, ks: Double)

/** One ranked-item event for [[StreamStage.rboDriftStream]]. */
final case class RboEvent(item: String, ts: Long)

/** One closed-period RBO row from [[StreamStage.rboDriftStream]] — same
  * fields as the batch [[graft.ops.AnalyticsOps.rboDrift]]. */
final case class RboOut(period: Long, overlap_k: Long, rbo: Double)

/** One closed-bucket row from [[StreamStage.calendarBaselineStream]] —
  * same fields as the batch [[graft.ops.AnalyticsOps.calendarBaseline]]. */
final case class CalOut(url: String, bucket: Long, n: Long, mean: Double,
    baseline: Option[Double], ratio: Option[Double])

/** One closed-day row from [[StreamStage.availabilityStream]] — same
  * fields as the batch [[graft.ops.AnalyticsOps.availability]]. */
final case class AvailOut(url: String, day: Long, observed: Long,
    expected: Long, missing: Long, longest_gap_ms: Long)

/** One closed-frame word from [[StreamStage.saxStream]] — same fields as
  * the batch [[graft.ops.DownsampleOps.quantileSax]]. */
final case class SaxOut(url: String, frame: Long, word: String, n_slots: Long)

/** One closed-bucket row from [[StreamStage.counterIncreaseStream]] — same
  * fields as the batch [[graft.ops.AnalyticsOps.counterIncrease]]. */
final case class IncOut(url: String, bucket: Long, increase: Option[Double],
    resets: Long, n: Long)

/** One closed-period row from [[StreamStage.overlapSketchStream]] — same
  * fields as the batch [[graft.ops.AnalyticsOps.distinctOverlapSketch]]. */
final case class OvlOut(key: String, period: Long, curr_est: Long,
    prev_est: Long, union_est: Long, retained_est: Long, jaccard_est: Double)
/** Group state of [[StreamStage]]'s buffered in-order replay: the rows
  * still above the watermark plus the twin's running state. */
final case class Replay[R, S](held: Seq[R], run: S)

/** Group state of [[StreamStage]]'s ascending period close: the open
  * periods' accumulators, the value carried from closed periods, and the
  * newest closed period (`Long.MinValue` before the first close). */
final case class Periods[A, C](open: Map[Long, A], carry: C, lastClosed: Long)

/** Spark Structured Streaming wrapper for the streaming ClaSP state machine
  * (SURVEY.md §2.9). The reference ingests strictly in order with no late
  * data (ring buffers bound memory, not watermarks); the wrapper therefore
  * sorts each micro-batch per key and expects upstream event-time ordering
  * across batches (replay in order, or watermark+buffer upstream). */
object StreamStage {

  /** Cents conversion that mirrors the BATCH `cast("decimal(12,2)")`
    * exactly: HALF_UP to 2 decimals, None for non-finite values and for
    * magnitudes the decimal can't hold (the cast's NULL), so one poison
    * record can never kill a streaming query. Only for twins whose batch
    * side uses the decimal CAST; twins whose batch kernel uses
    * `BigDecimal.valueOf` directly use
    * [[graft.ops.AnalyticsOps.exactCents]]. */
  private def decimalCents(v: Double): Option[Long] = {
    if (!java.lang.Double.isFinite(v)) return None
    val u = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).unscaledValue
    if (u.abs.compareTo(java.math.BigInteger.valueOf(1000000000000L)) >= 0)
      None
    else Some(u.longValue)
  }

  /** The decimal value of `c` cents as a double (the DECIMAL→DOUBLE cast). */
  private def centsDouble(c: Long): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(c), 2).doubleValue

  /** Start of the `spanMs`-wide epoch-aligned bucket holding `ts`. */
  private def bucketOf(ts: Long, spanMs: Long): Long =
    ts - math.floorMod(ts, spanMs)

  /** The shared event-time prelude: an `event_time` column from the epoch
    * millis in `ts`, watermarked with `lateness`. */
  private def watermarked(df: DataFrame, lateness: String,
      ts: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    df.withColumn("event_time", timestamp_millis(col(ts)))
      .withWatermark("event_time", lateness)
  }

  /** Config for the per-url detector.
    *
    * STATE-STORE SIZING: the snapshot carries the full ring buffers, so the
    * state per url is O(nTimepoints·k) — [[stateBytesPerUrl]] gives the
    * upper bound (~1.05 MB at the defaults, k=3). That is ~105 GB of state
    * store per 100k urls: for wide-key streams either lower `nTimepoints`
    * (the ring only needs to span the longest segment you care to detect)
    * or raise `maxStateBytesPerUrl` explicitly to acknowledge the footprint;
    * [[detectStream]] refuses configs whose per-url bound exceeds it. */
  final case class Config(
      nTimepoints: Int = 10000,
      nWarmup: Int = 300,
      maxStateBytesPerUrl: Long = 4L << 20) {

    /** Upper bound on encoded [[graft.kernel.streaming.SegSnapshot]] bytes
      * for one url: warmup + profile/series/csum/csumsq(2)/dcsum(3)/means/
      * stds/dotRolled rings (≈9 double rings) + k distance rows, plus k
      * int offset rows — all sized by the nTimepoints ring. */
    def stateBytesPerUrl(kNeighbours: Int = 3): Long =
      8L * (nWarmup.toLong + nTimepoints.toLong * (9L + kNeighbours) + 256L) +
        4L * (nTimepoints.toLong * kNeighbours + 256L)
  }

  /** STREAMING continuous aggregates: the 1m/1h/1d rollup tiers as a
    * watermarked event-time window aggregation over an unbounded point
    * stream. Append mode — a bucket row is emitted exactly once, when the
    * watermark passes its end, so the sink receives the same non-gap bucket
    * rows the batch rollup produces (equality asserted in StreamStageSpec).
    * State per key is one aggregate row per open bucket — O(urls × lateness)
    * regardless of stream length. */
  def rollupStream(
      points: Dataset[SeriesPoint],
      bucketMs: Long = 60000L,
      tier: String = "1m",
      lateness: String = "10 minutes"): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    watermarked(points.toDF(), lateness)
      .groupBy(col("url"), window(col("event_time"), s"$bucketMs milliseconds"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum"),
        min("value").as("min"), max("value").as("max"),
        avg("value").as("mean"))
      .select(col("url"), lit(tier).as("tier"),
        unix_millis(col("window.start")).as("bucket_start"),
        col("cnt"), col("sum"), col("min"), col("max"), col("mean"))
  }

  /** STREAMING distribution rollup — the unbounded twin of
    * [[graft.ops.AnalyticsOps.histogram]] (q43): per (url, bucket, bin)
    * counts with globally aligned fixed-width bins, as a NATIVE watermarked
    * window aggregation (no custom state code — bins are just one more
    * grouping key, so Spark's streaming hash aggregate handles merge,
    * state eviction, and exactly-once append). A (url, bucket, bin) row is
    * emitted once when the watermark passes the bucket end; state is
    * O(open buckets × occupied bins), independent of stream length. */
  def histogramStream(
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      binWidth: Double,
      lateness: String = "10 minutes"): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    watermarked(points.toDF(), lateness)
      .groupBy(col("url"), window(col("event_time"), s"$bucketMs milliseconds"),
        floor(col("value") / lit(binWidth)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"),
        min("value").as("bin_min"), max("value").as("bin_max"))
      .select(col("url"), unix_millis(col("window.start")).as("bucket_start"),
        col("bin"), col("cnt"), col("bin_min"), col("bin_max"))
  }

  /** STREAMING OHLC candles — the unbounded twin of
    * [[graft.ops.AnalyticsOps.ohlc]], as a NATIVE watermarked window
    * aggregate: open/close use the flat-buffer first/last-by-order
    * aggregate ([[graft.functions.OrderedAggregates]] — hash-aggregable,
    * O(1) state per open (url, bucket) candle) and the candle appends
    * exactly once when the watermark closes its window — no custom state
    * code at all. [[SeriesPoint]] carries no tie column, so dup-ts rows
    * are ordered by (ts, value); pass the same tie to the batch op when
    * twinning (exact ≡ holds, see StreamStageSpec). */
  def ohlcStream(
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      lateness: String = "10 minutes"): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    import graft.functions.OrderedAggregates.{firstByOrd, lastByOrd}
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    watermarked(points.toDF(), lateness)
      .groupBy(col("url"), window(col("event_time"), s"$bucketMs milliseconds"))
      .agg(
        firstByOrd(col("value"), col("ts"), col("value")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        lastByOrd(col("value"), col("ts"), col("value")).as("close"),
        count(lit(1)).as("cnt"),
        sum(col("value")).as("vsum"))
      .select(col("url"), unix_millis(col("window.start")).as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"), col("cnt"),
        col("vsum"))
  }

  /** STREAMING daily distinct-actives sketches — the unbounded twin of the
    * q45 cardinality rollup, as a NATIVE watermarked window aggregate over
    * Spark's HLL++ (`approx_count_distinct`): one sketch per open day,
    * O(days-in-flight × 2^p) state, appended exactly once when the
    * watermark closes the day — zero custom state code (the
    * [[histogramStream]] pattern). Closed days equal the batch q45 rows
    * EXACTLY, not approximately-approximate: HLL register merge is a
    * commutative monoid (per-register max), so any arrival order and any
    * partial-merge tree produce bit-identical registers and therefore the
    * identical estimate — spec-pinned under shuffled late arrivals. The
    * trailing-7-day WAU (q106's sketch path) is then a downstream merge of
    * these stored per-day sketches. */
  def activesStream(
      events: Dataset[ActivityPoint],
      rsd: Double = 0.02,
      lateness: String = "10 minutes"): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    require(rsd > 0, s"rsd must be positive, got $rsd")
    watermarked(events.toDF(), lateness)
      .groupBy(window(col("event_time"), "1 day"))
      .agg(count(lit(1)).as("cnt"),
        approx_count_distinct(col("user"), rsd).as("users_approx"),
        approx_count_distinct(col("etype"), rsd).as("types_approx"))
      .select(col("window.start").as("day"), col("cnt"),
        col("users_approx"), col("types_approx"))
  }

  /** STREAMING exact trailing-window actives, stage 1 of 2 — with
    * [[trailingActivesFromCover]], the unbounded twin of
    * [[graft.ops.AnalyticsOps.trailingActives]] (q142). Replays each
    * key's active days in event-time order (the shared [[ewmaStream]]
    * watermark-buffer discipline) and emits the batch op's
    * first-in-window identity incrementally: a newly drained active day
    * `d` after previous day `p` appends one MEMBERSHIP row per trailing
    * window in [max(d, p+w), d+w−1] — ranges from successive days never
    * overlap, so each (key, window) row appends EXACTLY ONCE and is never
    * retracted. State: the O(lateness) buffer plus the last active day
    * per key; a primed key's state persists (its last active day
    * gates all future coverage) — the same O(keys) tier as
    * [[ewmaStream]]'s carried smoother.
    *
    * The membership stream is itself the write-path artifact ("which keys
    * count toward which trailing window") and is meant to be PERSISTED;
    * the day counts are the separate query [[trailingActivesFromCover]]
    * runs over that sink. The split is deliberate: fusing both into one
    * query puts a second watermark node downstream of this operator, and
    * Spark's global-min watermark then deadlocks at the epoch until the
    * first membership row appears (downstream node with no data pins the
    * only watermark stage 1 drains by). Two queries give each stage its
    * own sound watermark — the standard intermediate-sink shape for
    * chained stateful pipelines. */
  def trailingCoverStream(
      events: Dataset[ActivityPoint],
      windowDays: Int = 7,
      lateness: String = "10 minutes"): Dataset[CoverOut] = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val spark = events.sparkSession
    import spark.implicits._
    val dayMs = 86400000L
    val win = windowDays.toLong * dayMs
    val points = events.map(a =>
      TiedPoint(a.user, Math.floorDiv(a.ts, dayMs) * dayMs, 0L, 0.0))
    // running state: the last drained active day, None until primed.
    // A busy key would otherwise buffer one row PER EVENT until its day
    // drains — the drain only consumes distinct days (tie/value are
    // constant 0), so the hold is deduped to O(buffered days) state
    bufferedReplay(points, lateness, Option.empty[Long])(
        _.url, _.ts, byTsTie, _.isEmpty, _.distinct) { (user, prev0, ready) =>
      var prev = prev0
      val out = Vector.newBuilder[CoverOut]
      ready.foreach { p =>
        val d = p.ts
        if (prev.forall(d > _)) { // same-day repeats are no-ops
          var w = prev.fold(d)(pd => math.max(d, pd + win))
          val hi = d + win - dayMs
          while (w <= hi) { out += CoverOut(user, w); w += dayMs }
          prev = Some(d)
        }
      }
      (out.result(), prev)
    }
  }

  /** Stage 2 of the exact trailing-actives twin: a NATIVE watermarked
    * 1-day window count over [[trailingCoverStream]]'s membership sink
    * (the [[histogramStream]] pattern — zero custom state code; each
    * (key, window) row arrives exactly once, so count(*) IS the actives).
    * Run as its OWN streaming query over the persisted membership stream
    * (see [[trailingCoverStream]] for why the stages must not share a
    * query). Lateness must cover stage 1's look-ahead: a membership row's
    * day can run up to windowDays−1 days ahead of the day that produced
    * it, so the default mirrors the window. Closed days equal the batch
    * q142 rows with actives > 0 exactly; the batch spine's zero-activity
    * days are the only rows with no streaming counterpart
    * (spec-pinned under shuffled late arrivals). */
  def trailingActivesFromCover(
      cover: Dataset[CoverOut],
      windowDays: Int = 7): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    watermarked(cover.toDF(), s"${windowDays * 24} hours", "dayMs")
      .groupBy(window(col("event_time"), "1 day"))
      .agg(count(lit(1)).as("actives"))
      .select(unix_millis(col("window.start")).as("day_ms"), col("actives"))
  }

  /** STREAMING per-bucket OLS trend — the unbounded twin of
    * [[graft.ops.AnalyticsOps.linearTrend]] scoped to tumbling buckets:
    * per closed (url, bucket), the least-squares slope/intercept/r² of
    * value against seconds-into-the-bucket. A NATIVE watermarked window
    * aggregate (the [[histogramStream]] pattern — zero custom state code):
    * state per open candle is the six exact-integer sufficient statistics,
    * O(1) per (url, bucket), appended exactly once on watermark close.
    *
    * Closed buckets equal the batch op BIT-FOR-BIT, not approximately:
    * integer sums are a commutative monoid, so any arrival order, any
    * micro-batch chunking, and any partial-merge tree produce identical
    * statistics, and the shared [[graft.ops.AnalyticsOps.olsFinalize]]
    * formula turns identical integers into identical doubles
    * (spec-pinned under shuffled late arrivals). */
  def trendStream(
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      lateness: String = "10 minutes",
      decimals: Int = 2): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(decimals >= 0 && decimals <= 6,
      s"decimals must be in [0, 6], got $decimals")
    val scale = math.pow(10.0, decimals)
    // tumbling windows are epoch-aligned, so seconds-into-bucket is a pure
    // row expression (no reference to the window struct needed)
    val x = floor(pmod(col("ts"), lit(bucketMs)) / lit(1000.0)).cast("long")
    val y = round(col("value") * lit(scale)).cast("long")
    val stats = watermarked(points.toDF(), lateness)
      .groupBy(col("url"), window(col("event_time"), s"$bucketMs milliseconds"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    graft.ops.AnalyticsOps.olsFinalize(stats, scale)
      .select(col("url"), unix_millis(col("window.start")).as("bucket_start"),
        col("n"), col("slope"), col("intercept"), col("r2"))
  }

  /** STREAMING categorical-mix diversity — the unbounded twin of
    * [[graft.ops.AnalyticsOps.typeEntropy]]: per closed (user, bucket),
    * Shannon entropy / normalized entropy / Gini–Simpson of the etype
    * distribution. TWO CHAINED native watermarked aggregations (Spark's
    * multiple-stateful-operator support): the first maintains the
    * (user, bucket, type) cell counts — O(open buckets × occupied types)
    * state, the same tier a store would persist — and appends each cell
    * exactly once on watermark close; the second re-windows those cells
    * via `window_time` and folds the diversity row per closed bucket.
    * No custom state code anywhere.
    *
    * Closed buckets equal the batch op BIT-FOR-BIT: the cell counts are
    * exact integers under any arrival order, the entropy fold runs in the
    * same fixed type-ascending order over the sorted cell list, and the
    * finalize divisions are single fixed ops (spec-pinned under shuffled
    * late arrivals, including the single-type NULL-norm edge). */
  def entropyStream(
      events: Dataset[ActivityPoint],
      bucketMs: Long = 86400000L,
      lateness: String = "10 minutes"): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val cells = watermarked(events.toDF(), lateness)
      .groupBy(col("user").as("key"),
        window(col("event_time"), s"$bucketMs milliseconds"),
        col("etype").as("type"))
      .agg(count(lit(1)).as("c"))
    val nd = col("n_events").cast("double")
    cells
      .groupBy(col("key"),
        window(window_time(col("window")), s"$bucketMs milliseconds").as("w2"))
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
      .select(col("key"), unix_millis(col("w2.start")).as("bucket_start"),
        col("n_events"), col("n_types"), col("entropy"), col("norm_entropy"),
        col("simpson"))
  }

  /** STREAMING gap-based sessionization — the unbounded twin of
    * [[graft.ops.SessionOps.sessionize]], as a NATIVE watermarked
    * `session_window` aggregate (the [[histogramStream]] pattern, no custom
    * state code). Each row opens a window [ts, ts + gapMs) and Spark
    * merges windows that overlap or touch per url, so two rows share a
    * session iff steps of at most `gapMs` link them — the batch op's
    * `ts − prev > gapMs` boundary (spec-pinned on both sides of it, within
    * one micro-batch and across the state store). A session appends
    * exactly once, when the watermark passes its end; a late row within
    * the lateness joins the session it belongs to, whatever its arrival
    * order. State is the open sessions per url. */
  def sessionizeStream(
      points: Dataset[SeriesPoint],
      gapMs: Long,
      lateness: String = "10 minutes"): Dataset[SessionOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    watermarked(points.toDF(), lateness)
      .groupBy(col("url"),
        session_window(col("event_time"), s"$gapMs milliseconds"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select("url", "session_start", "session_end", "n_events")
      .as[SessionOut]
  }

  /** STREAMING staleness / absent-series alerting — the unbounded twin of
    * [[graft.ops.AnalyticsOps.staleness]], with ALERT semantics (Prometheus
    * `absent()`): a url goes STALE when the event-time watermark passes its
    * newest point + `thresholdMs` with nothing newer — evaluated at the
    * frontier, so a historical gap that is back-filled before the watermark
    * reaches it never alerts (exactly like a Prometheus rule that only sees
    * the current scrape state). The first newer point after a stale alert
    * emits a RECOVERED transition. The batch op's `stale` column is this
    * stream's unresolved-alert set when the anchor equals the watermark
    * (spec-pinned boundary included: batch flags age > threshold; the
    * stream fires once the watermark is strictly past last_ts + threshold).
    *
    * State per url is two fields (no row buffer — only the max ts matters,
    * and max is order-insensitive, so late arrivals within the watermark
    * need no replay). A stale url keeps its state (the recovery transition
    * needs it) but arms NO timeout — quiet dead urls cost two fields and
    * zero per-batch work. */
  def staleStream(
      points: Dataset[SeriesPoint],
      thresholdMs: Long,
      lateness: String = "10 minutes"): Dataset[StaleEvent] = {
    require(thresholdMs > 0, s"thresholdMs must be positive, got $thresholdMs")
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    watermarked(points.toDF(), lateness)
      .select(col("url"), col("ts"), col("event_time"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (url: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[StaleState]) => {
          val wm = state.getCurrentWatermarkMs()
          if (state.hasTimedOut) {
            val st = state.get
            // the arming invariant (rows above the watermark ⇒ timeout is
            // always lastTs + threshold + 1) makes this guard succeed on
            // every real wake; it stays as a cheap defense, not a branch
            if (!st.staleEmitted && wm > st.lastTs + thresholdMs) {
              state.update(st.copy(staleEmitted = true))
              Iterator.single(
                StaleEvent(url, "stale", st.lastTs, st.lastTs + thresholdMs))
            } else Iterator.empty
          } else {
            val st = state.getOption.getOrElse(StaleState(Long.MinValue, false))
            // newest drives the state; firstNewer pins the recovery event to
            // the FIRST point past the stale alert so the emitted row is
            // identical under any micro-batch chunking of the same stream
            var newest = Long.MinValue
            var firstNewer = Long.MaxValue
            rows.foreach { r =>
              if (r._2 > newest) newest = r._2
              if (r._2 > st.lastTs && r._2 < firstNewer) firstNewer = r._2
            }
            val out =
              if (newest > st.lastTs && st.staleEmitted)
                Iterator.single(StaleEvent(url, "recovered", firstNewer, firstNewer))
              else Iterator.empty
            val next =
              if (newest > st.lastTs) StaleState(newest, false) else st
            state.update(next)
            if (!next.staleEmitted)
              state.setTimeoutTimestamp(
                math.max(next.lastTs + thresholdMs + 1L, wm + 1L))
            out
          }
        })
  }

  /** DRIVER (1), per-(key, bucket) close-on-watermark — the whole-bucket
    * twins (z-score, MAD, M4, heavy hitters, …): rows fold into their
    * (key, bucket) group's state as they arrive (`fold`: an order-free
    * accumulator, or simply the bucket's rows), and once the watermark
    * passes the bucket end the event-time timeout emits
    * `close(key, bucket, state)` exactly once and removes the state —
    * the append-once discipline of a native watermarked window aggregate
    * ([[histogramStream]]). State is
    * O(open buckets), bounded by bucket span + lateness, never the stream.
    * `zero` is by-name: sketch states update in place, so every new group
    * needs its own. */
  private def closeOnWatermark[R, S: Encoder, O: Encoder](
      rows: Dataset[R], lateness: String, bucketMs: Long, zero: => S)(
      key: R => String, ts: R => Long, fold: (S, Iterator[R]) => S)(
      close: (String, Long, S) => IterableOnce[O]): Dataset[O] = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val spark = rows.sparkSession
    import spark.implicits._
    watermarked(rows.toDF(), lateness).as(rows.encoder)
      .groupByKey(r => (key(r), bucketOf(ts(r), bucketMs)))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: (String, Long), in: Iterator[R], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            close(k._1, k._2, s).iterator
          } else {
            state.update(fold(state.getOption.getOrElse(zero), in))
            // fire once the watermark passes the bucket end
            state.setTimeoutTimestamp(math.max(k._2 + bucketMs,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          })
  }

  /** DRIVER (2), per-key ascending period close with a carried value — the
    * twins that compare each closed period with what closed before it
    * (drift vs the previous histogram, top-k or sketch; SLO burn and
    * rolling correlation over a ring of closed buckets; calendar baselines
    * over hour-of-day sums). Their accumulators are order-free, so rows
    * fold into their open period on arrival (`keep` skips rows that only
    * advance the watermark): a row above the watermark can never fall in
    * a closing period. Periods the watermark has passed close in
    * ascending order through `close(key, period, lastClosed, acc, carry)`,
    * which emits rows and returns the next carry. A row whose period has
    * already closed is a beyond-lateness straggler and is dropped:
    * re-opening a closed period would regress the carry. The carry is
    * needed until the watermark reaches the newest closed period +
    * `horizon` (`Long.MaxValue`: the key's lifetime); the state is removed
    * once no period is open and the carry is dead. */
  private def periodClose[R, A: TypeTag, C: TypeTag, O: Encoder](
      rows: Dataset[R], lateness: String, periodMs: Long, horizon: Long)(
      key: R => String, ts: R => Long, zero: => A, fold: (A, Seq[R]) => A,
      carry: => C, keep: R => Boolean = (_: R) => true)(
      close: (String, Long, Long, A, C) => (IterableOnce[O], C)): Dataset[O] = {
    val spark = rows.sparkSession
    import spark.implicits._
    watermarked(rows.toDF(), lateness).as(rows.encoder)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: String, in: Iterator[R], state: GroupState[Periods[A, C]]) => {
          val st = state.getOption
            .getOrElse(Periods(Map.empty[Long, A], carry, Long.MinValue))
          var open = st.open
          in.filter(keep).toSeq.groupBy(r => bucketOf(ts(r), periodMs))
            .foreach { case (p, rs) =>
              if (p > st.lastClosed)
                open = open.updated(p, fold(open.getOrElse(p, zero), rs))
            }
          val wm = state.getCurrentWatermarkMs()
          var (c, last) = (st.carry, st.lastClosed)
          val out = Vector.newBuilder[O]
          open.keys.filter(_ + periodMs <= wm).toSeq.sorted.foreach { p =>
            val (o, next) = close(k, p, last, open(p), c)
            out ++= o; c = next; last = p
          }
          open = open.filter(_._1 + periodMs > wm)
          val expiry =
            if (last == Long.MinValue || horizon == Long.MaxValue) None
            else Some(last + horizon)
          if (open.isEmpty && horizon != Long.MaxValue && expiry.forall(wm >= _))
            state.remove()
          else {
            state.update(Periods(open, c, last))
            (open.keys.map(_ + periodMs) ++ expiry).minOption.foreach(w =>
              state.setTimeoutTimestamp(math.max(w, wm + 1L)))
          }
          out.result().iterator
        })
  }

  /** DRIVER (3), buffered in-order replay — the order-sensitive twins
    * (EWMA, delta/rate, Holt, CUSUM, funnel, as-of, …): per key, rows
    * above the watermark are held in group state and the now-final
    * ≤watermark prefix drains in `order` on every invocation (and on
    * event-time timeout, so tails flush without new data). The twin
    * supplies only its running state and `drain(key, state, ready)`; the
    * row buffer, watermark split, state carry and timeout arming live
    * here once. `compact` may shrink the held rows for a twin whose drain
    * ignores repeats. The state is removed only on a call that holds and
    * drains nothing while `removable` holds for the running state. */
  private def bufferedReplay[R: TypeTag, S: TypeTag, O: Encoder](
      rows: Dataset[R], lateness: String, init: S)(
      key: R => String, ts: R => Long, order: Ordering[R],
      removable: S => Boolean, compact: Seq[R] => Seq[R] = (h: Seq[R]) => h)(
      drain: (String, S, Seq[R]) => (IterableOnce[O], S)): Dataset[O] = {
    val spark = rows.sparkSession
    import spark.implicits._
    watermarked(rows.toDF(), lateness).as(rows.encoder)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: String, in: Iterator[R], state: GroupState[Replay[R, S]]) => {
          val st = state.getOption.getOrElse(Replay(Seq.empty[R], init))
          val wm = state.getCurrentWatermarkMs()
          // stable sort: rows equal under `order` keep their arrival order
          val (ready, hold) = (st.held ++ in).sorted(order).partition(ts(_) <= wm)
          val (out, run) = drain(k, st.run, ready)
          if (hold.isEmpty && ready.isEmpty && removable(run)) state.remove()
          else {
            state.update(Replay(compact(hold), run))
            // fire once the watermark passes the earliest held row
            if (hold.nonEmpty)
              state.setTimeoutTimestamp(math.max(ts(hold.head), wm + 1L))
          }
          out.iterator
        })
  }

  /** Replay order of [[TiedPoint]] rows: dup-ts rows order by the explicit
    * tie, matching the batch ops. */
  private val byTsTie: Ordering[TiedPoint] = Ordering.by(p => (p.ts, p.tie))

  /** STREAMING per-url EWMA with correct event-time ordering.
    *
    * EWMA is order-sensitive, so rows cannot be smoothed as they arrive
    * when the stream can reorder within the lateness window. Each url
    * buffers rows still above the watermark and, whenever the watermark
    * advances (new rows or event-time timeout), drains the now-final
    * prefix in (ts, tie) order through the recurrence — emitting exactly
    * the sequential batch result ([[bufferedReplay]]). State per url is
    * the running smoother (None until primed) plus the O(lateness-window)
    * row buffer; an event-time timeout flushes tail rows without
    * requiring new data for that url. */
  def ewmaStream(
      points: Dataset[TiedPoint],
      alpha: Double,
      lateness: String = "10 minutes"): Dataset[EwmaOut] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val spark = points.sparkSession
    import spark.implicits._
    val beta = 1.0 - alpha
    bufferedReplay(points, lateness, Option.empty[Double])(
        _.url, _.ts, byTsTie, _.isEmpty) { (url, y0, ready) =>
      var y = y0
      val out = ready.map { p =>
        y = Some(y.fold(p.value)(beta * _ + alpha * p.value))
        EwmaOut(url, p.ts, p.tie, p.value, y.get)
      }
      (out, y)
    }
  }

  /** STREAMING per-url first-difference / per-second rate — the unbounded
    * twin of [[graft.ops.AnalyticsOps.deltaRate]], with the same
    * watermark-buffered in-order replay as [[ewmaStream]]: rows above the
    * watermark are held in group state and drained in (ts, tie) order once
    * final, so each emitted row differences against its true event-time
    * predecessor even when arrival order is perturbed. Series heads carry
    * None delta/rate; duplicate timestamps carry None rate (not Inf) —
    * exactly the batch q41 semantics. State per url is the O(lateness)
    * buffer plus one (prevTs, prevVal) pair. */
  def deltaRateStream(
      points: Dataset[TiedPoint],
      lateness: String = "10 minutes"): Dataset[DeltaOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    // running state: the last drained (ts, value), None at the series head
    bufferedReplay(points, lateness, Option.empty[(Long, Double)])(
        _.url, _.ts, byTsTie, _.isEmpty) { (url, prev0, ready) =>
      var prev = prev0
      val out = ready.map { p =>
        val row = prev.fold(DeltaOut(url, p.ts, p.tie, p.value, None, None)) {
          case (prevTs, prevVal) =>
            val d = p.value - prevVal
            val rate =
              if (p.ts > prevTs) Some(d / ((p.ts - prevTs) / 1000.0)) else None
            DeltaOut(url, p.ts, p.tie, p.value, Some(d), rate)
        }
        prev = Some((p.ts, p.value))
        row
      }
      (out, prev)
    }
  }

  /** STREAMING change-only (LOCF) compression — the unbounded twin of
    * [[graft.ops.AnalyticsOps.changeCompress]], on the same
    * watermark-buffered in-order replay as [[ewmaStream]]. A run EMITS
    * when it closes — i.e. when a differing value drains after it — so
    * the emitted set equals the batch output minus each key's final
    * still-open run (the same "closed only" discipline as the bucket
    * twins). Values compare exactly (the batch op's semantics), state per
    * url is the O(lateness) buffer plus one open-run record, and a url
    * whose stream pauses simply holds its open run until the next change
    * — nothing is ever re-emitted or revised. The open run is carried as
    * its would-be output row (None before the first row). */
  def changeStream(
      points: Dataset[TiedPoint],
      lateness: String = "10 minutes"): Dataset[ChangeOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    bufferedReplay(points, lateness, Option.empty[ChangeOut])(
        _.url, _.ts, byTsTie, _.isEmpty) { (url, run0, ready) =>
      var run = run0
      val out = Vector.newBuilder[ChangeOut]
      ready.foreach { p =>
        run = run match {
          case Some(r) if p.value == r.value => Some(r.copy(run_len = r.run_len + 1L))
          case _ =>
            out ++= run
            Some(ChangeOut(url, p.ts, p.tie, p.value, 1L))
        }
      }
      (out.result(), run)
    }
  }

  /** STREAMING one-sided CUSUM drift detection — the unbounded twin of
    * [[graft.ops.AnalyticsOps.cusum]], with the same watermark-buffered
    * in-order replay as [[ewmaStream]]. The statistic is integer cents
    * (the batch op's exact arithmetic), so emitted rows equal the batch
    * output EXACTLY — bit-for-bit, not at a tolerance — under any arrival
    * order within the lateness window. State per url is the O(lateness)
    * buffer plus ONE long, and it self-expires: a url whose statistic has
    * clamped back to 0 with nothing buffered carries no state at all
    * (s = 0 is the seed), so quiet in-control keys cost nothing. */
  def cusumStream(
      points: Dataset[TiedPoint],
      k: Double,
      h: Double,
      lateness: String = "10 minutes"): Dataset[CusumOut] = {
    require(h > 0, s"alarm threshold h must be positive, got $h")
    val spark = points.sparkSession
    import spark.implicits._
    val kC = exactCents(k)
    val hC = exactCents(h)
    bufferedReplay(points, lateness, 0L)(
        _.url, _.ts, byTsTie, _ == 0L) { (url, s0, ready) =>
      var s = s0
      val out = ready.map { p =>
        s = math.max(0L, s + exactCents(p.value) - kC)
        CusumOut(url, p.ts, p.tie, p.value, s.toDouble / 100.0, s > hC)
      }
      (out, s)
    }
  }

  /** STREAMING token-bucket rate-limit audit — the unbounded twin of
    * [[graft.ops.AnalyticsOps.rateLimitAudit]], with the same
    * watermark-buffered in-order replay as [[ewmaStream]]. The meter is
    * the sequential recurrence itself (streams don't need the batch op's
    * anchored tropical transform): integer nano-tokens, so emitted rows
    * equal the batch output BIT-FOR-BIT under any arrival order within
    * the lateness window. Idle gaps refill lazily on the next event
    * (linear refill is memoryless in integer arithmetic — decaying across
    * one long gap equals decaying through any intermediate point), so the
    * steady state per key is the O(lateness) buffer plus ONE (s, lastTs)
    * pair that never needs a per-batch touch — the [[asofStream]]
    * carried-payload discipline. */
  def rateLimitStream(
      points: Dataset[TiedPoint],
      ratePerSec: Double,
      burst: Double,
      lateness: String = "10 minutes"): Dataset[RlOut] = {
    require(ratePerSec >= 0.001 && ratePerSec <= 100.0,
      s"ratePerSec must be in [0.001, 100], got $ratePerSec")
    require(burst >= 1.0, s"burst must be >= 1 token, got $burst")
    val spark = points.sparkSession
    import spark.implicits._
    val c = 1000000000L
    val r = Math.round(ratePerSec * 1e6)   // nano-tokens per ms
    val burstNano = Math.round(burst * 1e9)
    // running meter: nano-token usage as of the last event's ts (None
    // before the first event)
    bufferedReplay(points, lateness, Option.empty[(Long, Long)])(
        _.url, _.ts, byTsTie, _.isEmpty) { (url, meter0, ready) =>
      var meter = meter0
      val out = ready.map { p =>
        val s = meter.fold(c) { case (s0, lastTs) =>
          math.max(0L, s0 - r * (p.ts - lastTs)) + c
        }
        meter = Some((s, p.ts))
        RlOut(url, p.ts, p.tie, s.toDouble / 1.0e9, s > burstNano)
      }
      (out, meter)
    }
  }

  /** STREAMING two-threshold hysteresis alerting — the unbounded twin of
    * [[graft.ops.AnalyticsOps.hysteresisAlerts]], with the same
    * watermark-buffered in-order replay as [[ewmaStream]]. Feed it the
    * rows the batch op reads (bucketed means; ts = bucket start). An
    * episode row is appended when the episode CLOSES — a now-final
    * (≤ watermark) bucket at or below `lo` arrives — so the emitted set
    * equals the batch op's episodes restricted to those that have closed;
    * a still-open episode lives only in state until its clearing bucket.
    * State per url: the O(lateness) row buffer + the open episode (None
    * while not firing). */
  def hysteresisStream(
      points: Dataset[TiedPoint],
      hi: Double,
      lo: Double,
      lateness: String = "10 minutes"): Dataset[AlertEpisode] = {
    require(hi > lo, s"hysteresis needs hi > lo, got hi=$hi lo=$lo")
    val spark = points.sparkSession
    import spark.implicits._
    bufferedReplay(points, lateness, Option.empty[AlertEpisode])(
        _.url, _.ts, byTsTie, _.isEmpty) { (url, ep0, ready) =>
      var ep = ep0
      val out = Vector.newBuilder[AlertEpisode]
      ready.foreach { p =>
        val v = p.value
        if (v >= hi || (ep.nonEmpty && !(v <= lo))) {
          val e = ep.getOrElse(
            AlertEpisode(url, p.ts, p.ts, 0L, Double.NegativeInfinity))
          ep = Some(e.copy(ep_end = p.ts, n_buckets = e.n_buckets + 1L,
            peak = math.max(e.peak, v)))
        } else { out ++= ep; ep = None }
      }
      (out.result(), ep)
    }
  }

  /** STREAMING per-url Holt double-exponential smoothing — the unbounded
    * twin of [[graft.ops.AnalyticsOps.holt]], with the same
    * watermark-buffered in-order replay as [[ewmaStream]]. Seeds
    * (level, trend) = (x₁, 0) and applies the sequential recurrence
    *   l' = α·x + (1−α)(l + φ·b);  b' = β(l' − l) + (1−β)·φ·b
    * to the drained ≤watermark prefix in (ts, tie) order (φ = 1 default:
    * classic Holt; φ < 1: damped trend, matching the batch op's `phi`).
    * Emits level, trend, and the one-step forecast level + φ·trend per
    * point. State per url is the O(lateness) buffer plus the
    * (level, trend) pair, None until primed. */
  def holtStream(
      points: Dataset[TiedPoint],
      alpha: Double,
      betaT: Double,
      lateness: String = "10 minutes",
      phi: Double = 1.0): Dataset[HoltOut] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(betaT >= 0 && betaT <= 1, s"beta must be in [0, 1], got $betaT")
    require(phi > 0 && phi <= 1, s"phi must be in (0, 1], got $phi")
    val spark = points.sparkSession
    import spark.implicits._
    bufferedReplay(points, lateness, Option.empty[(Double, Double)])(
        _.url, _.ts, byTsTie, _.isEmpty) { (url, lb0, ready) =>
      var lb = lb0
      val out = ready.map { p =>
        val v = p.value
        val (l, b) = lb.fold((v, 0.0)) { case (lPrev, bPrev) =>
          val l = alpha * v + (1 - alpha) * (lPrev + phi * bPrev)
          (l, betaT * (l - lPrev) + (1 - betaT) * (phi * bPrev))
        }
        lb = Some((l, b))
        HoltOut(url, p.ts, p.tie, v, l, b, l + phi * b)
      }
      (out, lb)
    }
  }

  /** STREAMING per-url additive Holt-Winters — the unbounded twin of
    * [[graft.ops.AnalyticsOps.holtWinters]], completing the smoother
    * family's streaming twins (EWMA/Holt/HW). Same watermark-buffered
    * in-order replay; the drained prefix runs the EXACT sequential
    * recurrence — the same [[graft.ops.HoltWintersWalk]] the batch op's
    * phase-3 chunk walk runs — with the (x₁, 0, 0…0) seed and the circular
    * seasonal ring. State per url is the O(lateness) buffer plus (level,
    * trend, m seasonals, rot). */
  def holtWintersStream(
      points: Dataset[TiedPoint],
      alpha: Double,
      betaT: Double,
      gamma: Double,
      period: Int,
      lateness: String = "10 minutes"): Dataset[HwStreamOut] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(betaT >= 0 && betaT <= 1, s"beta must be in [0, 1], got $betaT")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0, 1], got $gamma")
    require(period >= 1, s"period must be >= 1, got $period")
    val spark = points.sparkSession
    import spark.implicits._
    val m = period
    bufferedReplay(points, lateness,
        HwState(0.0, 0.0, new Array[Double](m), 0, false))(
        _.url, _.ts, byTsTie, !_.primed) { (url, st, ready) =>
      val walk = new graft.ops.HoltWintersWalk(alpha, betaT, gamma, st.l, st.b,
        st.seas.clone(), st.rot)
      var primed = st.primed
      val out = ready.map { p =>
        val x = p.value
        if (!primed) { primed = true; walk.l = x; walk.b = 0.0 }
        val s = walk.step(x)
        HwStreamOut(url, p.ts, p.tie, x, walk.l, walk.b, s, walk.forecast)
      }
      (out, HwState(walk.l, walk.b, walk.q, walk.rot, primed))
    }
  }

  /** STREAMING ordered funnel — the unbounded twin of
    * [[graft.ops.FunnelOps.funnel]]. Appends exactly one row per
    * (user, step) the user reaches, at the completion event: processed in
    * event-time order, the first step-k event strictly after the step-(k−1)
    * completion IS the batch `min(ts)`, so the emitted (user, step, ts) set
    * equals the batch funnel's non-null `ts_k` columns under any arrival
    * order within the lateness bound (StreamStageSpec). Uses the same
    * watermark-buffered in-order replay as [[ewmaStream]], with the step
    * index riding the value slot; state per user is the O(steps) progress
    * plus the above-watermark buffer — O(users) total, like
    * [[ewmaStream]].
    *
    * `events` columns: (user: String, ts: Long ms, tie: Long, etype:
    * String). Non-step events may be pre-filtered or passed through (they
    * are dropped here either way). */
  def funnelStream(
      events: DataFrame,
      steps: Seq[String],
      lateness: String = "10 minutes"): Dataset[FunnelStepOut] = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stepIdx = steps.zipWithIndex
      .foldLeft(lit(null).cast("double")) { case (acc, (s, i)) =>
        when(col("etype") === s, lit((i + 1).toDouble)).otherwise(acc)
      }
    val points = events
      .withColumn("value", stepIdx)
      .filter(col("value").isNotNull)
      .select(col("user").as("url"), col("ts"), col("tie"), col("value"))
      .as[TiedPoint]
    // running state: (depth reached, its completion ts); funnel progress
    // must outlive quiet periods, so it is never removable
    bufferedReplay(points, lateness, (0, Long.MinValue))(
        _.url, _.ts, byTsTie, _ => false) { (user, st, ready) =>
      var (depth, tsLast) = st
      val out = Vector.newBuilder[FunnelStepOut]
      for (p <- ready) {
        val s = p.value.toInt
        if (s == depth + 1 && (depth == 0 || p.ts > tsLast)) {
          depth = s; tsLast = p.ts
          out += FunnelStepOut(user, s, p.ts, p.tie)
        }
      }
      (out.result(), (depth, tsLast))
    }
  }

  /** STREAMING heavy hitters per event-time bucket — the unbounded twin of
    * [[graft.ops.HeavyHitters.perBucket]]. Each open bucket holds ONE
    * SpaceSaving summary (O(capacity) state, independent of stream length
    * or item cardinality); items fold in as they arrive (the summary is
    * order-insensitive in the exact regime the q52 oracle pins), and the
    * bucket's top-k is emitted exactly once, when the watermark passes the
    * bucket end (event-time timeout — same append-once discipline as
    * [[histogramStream]]'s native window). */
  def heavyHittersStream(
      events: Dataset[ItemPoint],
      bucketMs: Long,
      capacity: Int,
      k: Int,
      lateness: String = "10 minutes"): Dataset[HHBucketOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ss = new graft.ops.SpaceSaving(capacity)
    // one global summary per bucket: the group key is the bucket alone
    closeOnWatermark(events, lateness, bucketMs, ss.zero)(
        _ => "", _.ts, (st, rows) => rows.foldLeft(st)((b, r) => ss.reduce(b, r.item))) {
      (_, bucket, st) =>
        ss.finish(st).take(k).iterator.zipWithIndex.map { case (h, i) =>
          HHBucketOut(bucket, h.item, h.est, h.err, i + 1L)
        }
    }
  }

  /** STREAMING distribution-drift monitor — the unbounded twin of
    * [[graft.ops.AnalyticsOps.histogramDrift]] (q96). Per key, open
    * periods accumulate bin counts from watermark-final rows; when a
    * period closes, its TOTAL VARIATION distance to the key's LAST closed
    * period is emitted — exactly the batch formula (integer numerator,
    * one double division), and only when that predecessor is the
    * immediately preceding period (gap periods emit nothing, like the
    * batch join). State per key ([[periodClose]]): O(bins) open
    * histograms + one O(bins) previous histogram; keys are removed once
    * the watermark passes the last period a successor could still need. */
  def driftStream(
      points: Dataset[TiedPoint],
      periodMs: Long,
      binWidth: Double,
      lateness: String = "10 minutes"): Dataset[DriftOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    histDriftReplay(points, periodMs, binWidth, lateness) { (url, p, hist, prev) =>
      val n = hist.values.sum
      val m = prev.values.sum
      val num = (hist.keySet ++ prev.keySet).iterator.map { b =>
        math.abs(hist.getOrElse(b, 0L) * m - prev.getOrElse(b, 0L) * n)
      }.sum
      DriftOut(url, p, n, m, num.toDouble / (2.0 * n * m))
    }
  }

  /** The SHARED close behind the histogram drift twins ([[driftStream]]
    * TV, [[psiDriftStream]], [[emdKsDriftStream]] — one body, three
    * ~10-line metric closures) on [[periodClose]]: rows count into
    * per-(period, bin) histograms; when a period closes whose IMMEDIATE
    * predecessor also closed, `metric(url, period, hist, prev)` emits one
    * row; gap periods emit nothing (like the batch pairs join); state is
    * removed once the watermark passes the last period a successor could
    * pair with. Beyond-lateness stragglers are dropped by the driver
    * (spec-pinned: "beyond-lateness straggler" in StreamStageSpec). */
  private def histDriftReplay[T: Encoder](
      points: Dataset[TiedPoint],
      periodMs: Long,
      binWidth: Double,
      lateness: String)(
      metric: (String, Long, Map[Long, Long], Map[Long, Long]) => T): Dataset[T] = {
    require(periodMs > 0 && binWidth > 0,
      s"periodMs/binWidth must be positive, got $periodMs/$binWidth")
    val none = Map.empty[Long, Long]
    periodClose(points, lateness, periodMs, 2 * periodMs)(
        _.url, _.ts, none, (h: Map[Long, Long], rows: Seq[TiedPoint]) =>
          rows.foldLeft(h) { (h, r) =>
            val bin = math.floor(r.value / binWidth).toLong
            h.updated(bin, h.getOrElse(bin, 0L) + 1L)
          }, none) { (url, p, last, hist, prev) =>
      (Option.when(last == p - periodMs)(metric(url, p, hist, prev)), hist)
    }
  }

  /** STREAMING PSI drift monitor — the unbounded twin of
    * [[graft.ops.AnalyticsOps.psiDrift]] (q116), the population-stability
    * index a production model-input monitor runs CONTINUOUSLY. Identical
    * state machine to [[driftStream]]: per key, open periods accumulate
    * bin counts; when a period closes whose immediate
    * predecessor also closed, its PSI vs that predecessor is emitted —
    * the batch formula exactly (per bin over the union of either side's
    * bins, p = c/n when c > 0 else `eps`, q = q/m when q > 0 else `eps`,
    * Σ (p−q)·ln(p/q) folded in ASCENDING bin order, matching the batch
    * op's sort_array fold), and only when that predecessor is the
    * immediately preceding period (gap periods emit nothing, like the
    * batch join). State per key: O(bins) open histograms + one O(bins)
    * previous histogram; keys are removed once the watermark passes the
    * last period a successor could still need. */
  def psiDriftStream(
      points: Dataset[TiedPoint],
      periodMs: Long,
      binWidth: Double,
      eps: Double = 1e-4,
      lateness: String = "10 minutes"): Dataset[PsiOut] = {
    require(eps > 0, s"eps must be positive, got $eps")
    val spark = points.sparkSession
    import spark.implicits._
    histDriftReplay(points, periodMs, binWidth, lateness) { (url, p, hist, prev) =>
      val n = hist.values.sum
      val m = prev.values.sum
      var psi = 0.0
      (hist.keySet ++ prev.keySet).toArray.sorted.foreach { b =>
        val c = hist.getOrElse(b, 0L)
        val q = prev.getOrElse(b, 0L)
        val pr = if (c > 0L) c.toDouble / n.toDouble else eps
        val qr = if (q > 0L) q.toDouble / m.toDouble else eps
        psi += (pr - qr) * math.log(pr / qr)
      }
      PsiOut(url, p, n, m, psi)
    }
  }

  /** STREAMING earth-mover + Kolmogorov-Smirnov drift — the unbounded twin
    * of [[graft.ops.AnalyticsOps.emdKsDrift]] (q144), completing the
    * continuous drift-monitor family (TV [[driftStream]], PSI
    * [[psiDriftStream]], RBO [[rboDriftStream]]). Identical state
    * machine; when a period closes whose immediate predecessor also
    * closed, the batch op's cumulative-count identity runs over the
    * ascending union of either side's bins: D(b) = |cumC(b)·m − cumQ(b)·n|
    * (exact integers — BigInt here, decimal(19,0) in batch, equal until
    * n·m overflows 10^19), EMD = binWidth·ΣD(b)·lead-gap/(n·m),
    * KS = max D(b)/(n·m), each one fixed double division in the batch op's
    * operand order, so outputs are BIT-identical to batch. Gap periods
    * emit nothing; state dies once the watermark passes the last period a
    * successor could pair with. */
  def emdKsDriftStream(
      points: Dataset[TiedPoint],
      periodMs: Long,
      binWidth: Double,
      lateness: String = "10 minutes"): Dataset[EmdOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    histDriftReplay(points, periodMs, binWidth, lateness) { (url, p, hist, prev) =>
      val n = hist.values.sum
      val m = prev.values.sum
      val bins = (hist.keySet ++ prev.keySet).toArray.sorted
      var cumC = 0L
      var cumQ = 0L
      var s = BigInt(0)
      var dMax = BigInt(0)
      var i = 0
      while (i < bins.length) {
        val b = bins(i)
        cumC += hist.getOrElse(b, 0L)
        cumQ += prev.getOrElse(b, 0L)
        val d = (BigInt(cumC) * m - BigInt(cumQ) * n).abs
        if (d > dMax) dMax = d
        if (i + 1 < bins.length) s += d * (bins(i + 1) - b)
        i += 1
      }
      val nm = n.toDouble * m.toDouble
      EmdOut(url, p, n, m, binWidth * s.toDouble / nm, dMax.toDouble / nm)
    }
  }

  /** STREAMING rank-biased-overlap drift — the unbounded twin of
    * [[graft.ops.AnalyticsOps.rboDrift]] (q145): each closed period's
    * top-k ranked item list is compared to its immediate predecessor's
    * with truncated RBO@k, the rank-sensitive "did the heavy hitters
    * change?" monitor a production dashboard runs continuously. Identical
    * math to the batch op: ranks are (count DESC, item ASC) row numbers,
    * a matched item weighs `rboWeights(k, p)(max(rank, prev_rank))`, and
    * the fold runs in ascending (m, item) order — the same order as the
    * batch `sort_array` fold, so the doubles are bit-identical. A closed
    * period emits only when its IMMEDIATE predecessor also closed (gap
    * periods emit nothing, like the batch pairs join); periods with no
    * overlap still emit (overlap_k = 0, rbo = 0.0), as batch's left join
    * does. The [[driftStream]] discipline throughout ([[periodClose]]):
    * closed periods resolve ascending, state drops once the watermark
    * passes the last period a successor could pair with.
    *
    * The monitor is GLOBAL (one ranked list per period, like the batch
    * op), so all state lives under one group key: open-period item counts
    * + the previous top-k (≤ k entries). The
    * open-count maps are bounded by the period's distinct-item
    * cardinality — for unbounded item spaces put a SpaceSaving/heavy-
    * hitters pass upstream, exactly as the batch op's rank windows
    * assume. */
  def rboDriftStream(
      events: Dataset[RboEvent],
      periodMs: Long,
      k: Int = 10,
      p: Double = 0.9,
      lateness: String = "10 minutes"): Dataset[RboOut] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    require(periodMs > 0, s"periodMs must be positive, got $periodMs")
    val weights = graft.ops.AnalyticsOps.rboWeights(k, p)
    val spark = events.sparkSession
    import spark.implicits._
    // one global ranked list per period: the group key is constant; the
    // carry is the previous closed period's top-k (item -> rank)
    periodClose(events, lateness, periodMs, 2 * periodMs)(
        _ => "", _.ts, Map.empty[String, Long],
        (c: Map[String, Long], rows: Seq[RboEvent]) =>
          rows.foldLeft(c)((c, r) => c.updated(r.item, c.getOrElse(r.item, 0L) + 1L)),
        Map.empty[String, Int]) { (_, per, last, counts, prev) =>
      // (count DESC, item ASC) row numbers, truncated at k — the batch
      // rank window exactly
      val topk = counts.toSeq.sortBy { case (item, c) => (-c, item) }
        .take(k).iterator.zipWithIndex
        .map { case ((item, _), i) => item -> (i + 1) }.toMap
      val row = Option.when(last == per - periodMs) {
        val matched = topk.toSeq.flatMap { case (item, rnk) =>
          prev.get(item).map(pr => (math.max(rnk, pr), item))
        }.sorted
        var s = 0.0
        matched.foreach { case (m, _) => s += weights(m - 1) }
        RboOut(per, matched.size.toLong, (1.0 - p) * s)
      }
      (row, topk)
    }
  }

  /** STREAMING audience-overlap sketches — the unbounded twin of
    * [[graft.ops.AnalyticsOps.distinctOverlapSketch]] (q120): per key, each
    * open period accumulates ONE DataSketches HLL blob (the same library,
    * lgK, and UTF-8 member hashing Spark's `hll_sketch_agg` uses, so the
    * estimates equal the batch op's EXACTLY); when the watermark closes a
    * period whose immediate predecessor also closed, the curr/prev/union
    * estimates and the inclusion–exclusion retained/Jaccard emit — gap
    * periods emit nothing, like the batch join. The [[driftStream]]
    * discipline ([[periodClose]]): closed periods resolve in ascending
    * order, and a key's state is removed once the watermark passes the
    * last period a successor could still pair with. State per key:
    * O(open periods + 1) fixed-size blobs
    * (~2^lgK bytes each) — never a member set. */
  def overlapSketchStream(
      points: Dataset[ActivityPoint],
      periodMs: Long,
      lgK: Int = 12,
      lateness: String = "10 minutes"): Dataset[OvlOut] = {
    require(periodMs > 0, s"periodMs must be positive, got $periodMs")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    import org.apache.datasketches.hll.{HllSketch, Union}
    val spark = points.sparkSession
    import spark.implicits._
    def est(sk: HllSketch): Long = Math.round(sk.getEstimate)
    // open periods hold updatable HLL blobs, the carry is the previous
    // closed period's compact blob (empty before the first close)
    periodClose(points, lateness, periodMs, 2 * periodMs)(
        _.etype, _.ts, Array.emptyByteArray,
        (blob: Array[Byte], rows: Seq[ActivityPoint]) => {
          val sk = if (blob.isEmpty) new HllSketch(lgK) else HllSketch.heapify(blob)
          rows.foreach(r => sk.update(r.user))
          sk.toUpdatableByteArray
        }, Array.emptyByteArray) { (key, p, last, blob, prevBlob) =>
      val curr = HllSketch.heapify(blob)
      val row = Option.when(last == p - periodMs) {
        val prev = HllSketch.heapify(prevBlob)
        val u = new Union(lgK)
        u.update(curr)
        u.update(prev)
        val (c, pr, un) = (est(curr), est(prev), est(u.getResult))
        val retained = math.max(c + pr - un, 0L)
        // BigDecimal.valueOf (canonical-string), matching Spark round()
        val jac = java.math.BigDecimal.valueOf(retained.toDouble / un.toDouble)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        OvlOut(key, p, c, pr, un, retained, jac)
      }
      (row, curr.toCompactByteArray)
    }
  }

  /** STREAMING M4 downsample — the unbounded twin of
    * [[graft.ops.DownsampleOps.m4]] (q33). Each open (url, bucket) tracks
    * only its four extremes and the rows ATTAINING them (set semantics,
    * like batch): extremes are monotone within a bucket, so a displaced
    * candidate can never win again and is dropped on the spot — state is
    * O(ties), not O(bucket rows), the bounded-state shape that makes M4
    * a downsampler on the write path too. Rows needn't replay in order
    * (min/max are commutative); the bucket emits once, deduped, when the
    * watermark closes it. */
  def m4Stream(
      points: Dataset[TiedPoint],
      bucketMs: Long,
      lateness: String = "10 minutes"): Dataset[M4Out] = {
    val spark = points.sparkSession
    import spark.implicits._
    val none = M4State(Long.MaxValue, Long.MinValue, Double.PositiveInfinity,
      Double.NegativeInfinity, Nil, Nil, Nil, Nil)
    closeOnWatermark(points, lateness, bucketMs, none)(
        _.url, _.ts, (s0, rows) => rows.foldLeft(s0) { (st, r) =>
          val c = M4Cand(r.ts, r.tie, r.value)
          st.copy(
            minTs = math.min(st.minTs, c.ts),
            maxTs = math.max(st.maxTs, c.ts),
            minV = math.min(st.minV, c.value),
            maxV = math.max(st.maxV, c.value),
            atMinTs = if (c.ts < st.minTs) Seq(c)
              else if (c.ts == st.minTs) st.atMinTs :+ c else st.atMinTs,
            atMaxTs = if (c.ts > st.maxTs) Seq(c)
              else if (c.ts == st.maxTs) st.atMaxTs :+ c else st.atMaxTs,
            atMinV = if (c.value < st.minV) Seq(c)
              else if (c.value == st.minV) st.atMinV :+ c else st.atMinV,
            atMaxV = if (c.value > st.maxV) Seq(c)
              else if (c.value == st.maxV) st.atMaxV :+ c else st.atMaxV)
        }) { (url, bucket, s) =>
      (s.atMinTs ++ s.atMaxTs ++ s.atMinV ++ s.atMaxV).distinct
        .sortBy(c => (c.ts, c.tie))
        .map(c => M4Out(url, bucket, c.ts, c.tie, c.value))
    }
  }

  /** STREAMING availability report — the unbounded twin of
    * [[graft.ops.AnalyticsOps.availability]] (q83). Each open (url, day)
    * holds its DISTINCT observed buckets (≤ day/bucketMs longs); when the
    * watermark closes the day, the observed/expected/missing counts and
    * the longest silent gap emit — pure integer math, ≡ batch exactly. */
  def availabilityStream(
      points: Dataset[TiedPoint],
      bucketMs: Long,
      lateness: String = "10 minutes"): Dataset[AvailOut] = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val spark = points.sparkSession
    import spark.implicits._
    closeOnWatermark(points, lateness, 86400000L, Array.emptyLongArray)(
        _.url, _.ts, (seen, rows) =>
          (seen ++ rows.map(r => bucketOf(r.ts, bucketMs))).distinct) {
      (url, day, seen) =>
        val bs = seen.sorted
        var longest = 0L
        var i = 1
        while (i < bs.length) {
          val g = bs(i) - bs(i - 1) - bucketMs
          if (g > longest) longest = g
          i += 1
        }
        val expected = (bs.last - bs.head) / bucketMs + 1L
        Some(AvailOut(url, day, bs.length.toLong, expected,
          expected - bs.length, longest))
    }
  }

  /** STREAMING PAA + quantile-SAX words — the unbounded twin of
    * [[graft.ops.DownsampleOps.quantileSax]] with day frames and hour
    * slots. Each open (url, day) holds per-slot decimal-cents sums and
    * counts (O(24) state); on watermark close the slot means are
    * rank-discretized with SQL NTILE semantics (first n%4 tiles one
    * larger, ties broken by slot) and the slot-ordered word emits —
    * ≡ batch exactly (means are the same decimal-cast doubles). */
  def saxStream(
      points: Dataset[TiedPoint],
      alphabet: Int = 4,
      lateness: String = "10 minutes"): Dataset[SaxOut] = {
    require(alphabet >= 2 && alphabet <= 26, s"alphabet must be 2..26, got $alphabet")
    val hourMs = 3600000L
    val spark = points.sparkSession
    import spark.implicits._
    // per hour-of-day slot: decimal-cents sum and count (n = 0: no rows)
    closeOnWatermark(points, lateness, 86400000L,
        (new Array[Long](24), new Array[Long](24)))(
        _.url, _.ts, { case ((cents0, ns0), rows) =>
          val (cents, ns) = (cents0.clone(), ns0.clone())
          rows.foreach { r =>
            val slot = math.floorMod(math.floorDiv(r.ts, hourMs), 24L).toInt
            cents(slot) += exactCents(r.value); ns(slot) += 1L
          }
          (cents, ns)
        }) { case (url, day, (cents, ns)) =>
      val slots = Array.range(0, 24).filter(ns(_) > 0)
      val n = slots.length
      val means = slots.map(i => centsDouble(cents(i)) / ns(i))
      // rank by (mean, slot); NTILE: first n%k tiles get one extra
      val order = Array.range(0, n).sortBy(i => (means(i), slots(i)))
      val base = n / alphabet; val rem = n % alphabet
      val sym = new Array[Char](n)
      for ((idx, r) <- order.zipWithIndex) {
        val tile =
          if (base == 0) r
          else if (r < rem * (base + 1)) r / (base + 1)
          else rem + (r - rem * (base + 1)) / base
        sym(idx) = ('a' + tile).toChar
      }
      Some(SaxOut(url, day, sym.mkString, n.toLong))
    }
  }

  /** STREAMING calendar-baseline anomaly scores — the unbounded twin of
    * [[graft.ops.AnalyticsOps.calendarBaseline]] (q84). Per key, raw
    * points accumulate into open hourly buckets as EXACT decimal cents
    * (value HALF_UP-rounded to 2 dp, Spark's double→decimal cast
    * semantics); when the watermark closes a bucket, its mean is compared
    * to the TRAILING same-hour-of-day accumulator and the row emits with
    * the exact batch arithmetic (decimal-sum → double, one division per
    * term) — stream ≡ batch bit-for-bit on closed buckets. Buckets close
    * in ascending order, so the hour-of-day running sums see exactly the
    * batch window's prefix ([[periodClose]]). State per key: open buckets
    * + 24 (cents, n) pairs; cents are held in a Long (overflows
    * past ~9e16 cents per hour-of-day per key — far beyond any real
    * per-key volume; the batch op is the deep-history path). */
  def calendarBaselineStream(
      points: Dataset[TiedPoint],
      lateness: String = "10 minutes"): Dataset[CalOut] = {
    val bucketMs = 3600000L
    val spark = points.sparkSession
    import spark.implicits._
    // the hour-of-day baselines are UNBOUNDED history (O(24) per key):
    // dropping them would reset a resuming key's baseline, diverging from
    // batch — keep the state for the key's lifetime
    periodClose(points, lateness, bucketMs, Long.MaxValue)(
        _.url, _.ts, (0L, 0L), (acc: (Long, Long), rows: Seq[TiedPoint]) =>
          (acc._1 + rows.map(r => exactCents(r.value)).sum, acc._2 + rows.size),
        (new Array[Long](24), new Array[Long](24))) {
      case (url, b, _, (c, n), (hodC0, hodN0)) =>
        val (hodC, hodN) = (hodC0.clone(), hodN0.clone())
        val hod = math.floorMod(b / bucketMs, 24L).toInt
        val mean = centsDouble(c) / n
        val baseline =
          if (hodN(hod) > 0) Some(centsDouble(hodC(hod)) / hodN(hod))
          else None
        val ratio = baseline.filter(_ > 0).map(mean / _)
        hodC(hod) += c; hodN(hod) += n
        (Some(CalOut(url, b, n, mean, baseline, ratio)), (hodC, hodN))
    }
  }

  /** STREAMING multi-window SLO burn rate — the unbounded twin of
    * [[graft.ops.AnalyticsOps.sloBurnRate]] (q87). Unlike the per-bucket
    * twins, the burn windows REACH ACROSS buckets, so state groups by key
    * alone ([[periodClose]]): the open buckets' error/total counters
    * (counts are order-free — no tie needed), and a ring of
    * CLOSED buckets covering the long window. A bucket emits exactly once,
    * when the watermark passes its end, with burn rates summed over the
    * ring exactly like the batch RANGE frames (observed buckets only).
    * Input encodes errors as value = 1.0 (ok = 0.0). State per key:
    * O(open buckets + longMs/bucketMs ring entries); fully drained keys
    * are removed once the ring ages out of every future window. */
  def sloBurnStream(
      points: Dataset[TiedPoint],
      budget: Double,
      shortMs: Long,
      longMs: Long,
      threshold: Double,
      lateness: String = "10 minutes"): Dataset[SloOut] = {
    val bucketMs = 3600000L
    require(shortMs >= bucketMs && longMs > shortMs,
      s"windows must be >= 1h and long > short, got $shortMs/$longMs")
    // the batch RANGE frame and the stream's ring test (`rb > b - span`)
    // only agree when spans are whole buckets — a fractional span would
    // include one extra bucket here
    require(shortMs % bucketMs == 0 && longMs % bucketMs == 0,
      s"windows must be whole buckets, got $shortMs/$longMs vs $bucketMs")
    val spark = points.sparkSession
    import spark.implicits._
    // an entry rb is still needed by any future bucket b'' with
    // b'' < rb + longMs; the earliest bucket a still-admissible row
    // (ts > wm) can open is wm+1-(bucketMs-1), so the ring is dead only
    // once wm clears the newest closed bucket + longMs + bucketMs
    periodClose(points, lateness, bucketMs, longMs + bucketMs)(
        _.url, _.ts, (0L, 0L), (acc: (Long, Long), rows: Seq[TiedPoint]) =>
          (acc._1 + rows.count(_.value > 0), acc._2 + rows.size),
        Seq.empty[(Long, Long, Long)]) { case (url, b, _, (e, n), ring0) =>
      val ring = ring0 :+ ((b, e, n))
      def burn(span: Long): Double = {
        var se = 0L; var sn = 0L
        ring.foreach { case (rb, re, rt) =>
          if (rb > b - span && rb <= b) { se += re; sn += rt }
        }
        se.toDouble / sn.toDouble / budget
      }
      val bs = burn(shortMs); val bl = burn(longMs)
      // entries no future bucket's long window can reach are dead
      (Some(SloOut(url, b, e, n, bs, bl, bs > threshold && bl > threshold)),
        ring.filter(_._1 > b + bucketMs - longMs))
    }
  }

  /** STREAMING rolling-window correlation — the unbounded twin of
    * [[graft.ops.AnalyticsOps.rollingCorrelation]] (q143): per CLOSED
    * hourly bucket, the Pearson r of the two signals' cents volumes over
    * the trailing `windowBuckets` PRESENT buckets. Feed
    * `SeriesPoint(url = event type, ts, value)`; rows outside the two
    * types only advance the watermark. The [[sloBurnStream]] cross-bucket
    * ring discipline: open buckets accumulate exact cents sums
    * (commutative — no replay buffer needed), a bucket closes when the
    * watermark passes it, and the ring keeps closed cells until no future
    * window can reach them; late rows for an already-closed bucket are
    * dropped (the same contract a watermark aggregate applies). The
    * sufficient statistics use BigInteger products ≡ the batch op's
    * decimal(19,0) exactly, and the finalize repeats its fixed double op
    * order — closed buckets equal batch rows BIT-FOR-BIT (spec-pinned
    * under shuffled late arrivals). State: one global group of
    * O(open + windowBuckets) longs. */
  def rollingCorrStream(
      points: Dataset[SeriesPoint],
      typeA: String,
      typeB: String,
      windowBuckets: Int = 24,
      lateness: String = "10 minutes"): Dataset[RollCorrOut] = {
    require(windowBuckets >= 2,
      s"windowBuckets must be >= 2, got $windowBuckets")
    val spark = points.sparkSession
    import spark.implicits._
    val bucketMs = 3600000L
    val spanMs = windowBuckets.toLong * bucketMs
    // one global group; rows outside the two types only advance the
    // watermark (a pre-filter would be pushed BELOW the watermark node by
    // Catalyst and stop them advancing it), so they are skipped in-state
    periodClose(points, lateness, bucketMs, spanMs + bucketMs)(
        _ => "pair", _.ts, (0L, 0L), (acc: (Long, Long), rows: Seq[SeriesPoint]) =>
          rows.foldLeft(acc) { case ((x, y), r) =>
            // None (non-finite / beyond decimal(12,2)) adds 0 but still
            // OPENS the bucket — exactly the batch cast's NULL-excluded-
            // from-sum, row-still-grouped semantics
            val cv = decimalCents(r.value).getOrElse(0L)
            if (r.url == typeA) (x + cv, y) else (x, y + cv)
          },
        Seq.empty[(Long, Long, Long)],
        keep = r => r.url == typeA || r.url == typeB) {
      case (_, b, _, (x, y), ring0) =>
        val ring = ring0 :+ ((b, x, y))
        import java.math.BigInteger
        var (sxy, sxx, syy) =
          (BigInteger.ZERO, BigInteger.ZERO, BigInteger.ZERO)
        var (n, sx, sy) = (0L, 0L, 0L)
        ring.foreach { case (rb, rx, ry) =>
          if (rb > b - spanMs && rb <= b) {
            val (bx, by) =
              (BigInteger.valueOf(rx), BigInteger.valueOf(ry))
            n += 1; sx += rx; sy += ry
            sxy = sxy.add(bx.multiply(by))
            sxx = sxx.add(bx.multiply(bx))
            syy = syy.add(by.multiply(by))
          }
        }
        // the batch op's exact finalize order on the same doubles
        val nD = n.toDouble
        val (sxD, syD) = (sx.toDouble, sy.toDouble)
        val cov = nD * sxy.doubleValue - sxD * syD
        val varx = nD * sxx.doubleValue - sxD * sxD
        val vary = nD * syy.doubleValue - syD * syD
        val corr = if (varx > 0 && vary > 0)
          Some(cov / math.sqrt(varx * vary)) else None
        (Some(RollCorrOut(b, n, corr)), ring.filter(_._1 > b + bucketMs - spanMs))
    }
  }

  /** STREAMING per-(url, bucket) population z-score — the unbounded twin of
    * [[graft.ops.AnalyticsOps.zscore]] (q42). Scoring a row against its own
    * bucket's mean/stddev is inherently two-pass, so an open bucket buffers
    * its rows and emits them all — each with its z and outlier flag — once
    * the watermark closes the bucket. State is O(bucket rows × open
    * buckets), bounded by bucket span + lateness, never stream length; the
    * batch op remains the right shape for deep history, this twin serves
    * the live tail. Zero-variance buckets emit z = None, like batch. */
  def zscoreStream(
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      threshold: Double,
      lateness: String = "10 minutes"): Dataset[ZscoreOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    closeOnWatermark(points, lateness, bucketMs, Seq.empty[SeriesPoint])(
        _.url, _.ts, _ ++ _) { (url, bucket, rows) =>
      val vs = rows.map(_.value).toArray
      val n = vs.length
      val mu = vs.sum / n
      var devSq = 0.0
      var i = 0
      while (i < n) { val d = vs(i) - mu; devSq += d * d; i += 1 }
      val sd = math.sqrt(devSq / n)
      rows.map { r =>
        val z = if (sd > 0) Some((r.value - mu) / sd) else None
        ZscoreOut(url, bucket, r.ts, r.value, z, z.exists(zz => math.abs(zz) > threshold))
      }
    }
  }

  /** STREAMING median/MAD outliers — the unbounded twin of
    * [[graft.ops.AnalyticsOps.madOutliers]], per closed (url, bucket):
    * like z-scores, the op is inherently whole-group (a late row can move
    * the median), so it buffers ONE bucket per key and emits exactly once
    * when the watermark closes it — the [[zscoreStream]] discipline, state
    * bounded by bucket span + lateness. Medians are the same rank-selected
    * lower order statistics in integer cents as the batch op, so the
    * emitted rows equal batch q105's rows for closed buckets EXACTLY. */
  def madStream(
      points: Dataset[TiedPoint],
      bucketMs: Long,
      k: Double,
      lateness: String = "10 minutes"): Dataset[MadOut] = {
    require(k > 0, s"k must be positive, got $k")
    val spark = points.sparkSession
    import spark.implicits._
    closeOnWatermark(points, lateness, bucketMs, Seq.empty[TiedPoint])(
        _.url, _.ts, _ ++ _) { (url, bucket, rows) =>
      val n = rows.length
      val vc = rows.map(r => exactCents(r.value))
      // lower median = 1-based rank (n+1)/2 = 0-based index (n-1)/2;
      // rank selection needs only the VALUE at the rank, so sorting
      // by the value alone matches the batch (value, tie) order
      val med = vc.sorted.apply((n - 1) / 2)
      val dev = vc.map(c => math.abs(c - med))
      val mad = dev.sorted.apply((n - 1) / 2)
      rows.indices.map { i =>
        MadOut(url, bucket, rows(i).tie, rows(i).value,
          med.toDouble / 100.0, mad.toDouble / 100.0,
          dev(i).toDouble > k * mad.toDouble)
      }
    }
  }

  /** STREAMING robust trimmed/winsorized mean — the unbounded twin of
    * [[graft.ops.AnalyticsOps.trimmedMean]], per closed (url, bucket):
    * rank trimming is inherently whole-group (a late row can shift every
    * rank), so it buffers ONE bucket per key and emits exactly once when
    * the watermark closes it — the [[zscoreStream]]/[[madStream]]
    * discipline, state bounded by bucket span + lateness. Cents replicate
    * the batch op's `round(value·100)` (BigDecimal HALF_UP on the double
    * product), the trim count is the same `floor(α·n)` double op, and both
    * means are the same single fixed-order divisions — emitted rows equal
    * batch q130's rows for closed buckets EXACTLY. Ranks sort by cents
    * alone: the kept MULTISET is tie-order invariant, so no tie column is
    * needed for aggregate outputs. */
  def trimmedStream(
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      alpha: Double = 0.1,
      lateness: String = "10 minutes"): Dataset[TrimOut] = {
    require(alpha >= 0 && alpha < 0.5, s"alpha must be in [0, 0.5), got $alpha")
    val spark = points.sparkSession
    import spark.implicits._
    // the batch op's cents: Spark Round(value * 100.0) = BigDecimal
    // HALF_UP on the DOUBLE product (not a decimal cast of the raw value),
    // then a non-ANSI long cast. TOTAL like the batch chain — Round passes
    // NaN/±Inf through unchanged and Cast(double→long) is Scala's
    // saturating .toLong (NaN→0, ±Inf→Long.Min/Max) — so one poison record
    // yields the batch twin's defined row instead of killing the query.
    def cents(v: Double): Long = {
      val p = v * 100.0
      if (!java.lang.Double.isFinite(p)) p.toLong
      else java.math.BigDecimal.valueOf(p)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong
    }
    closeOnWatermark(points, lateness, bucketMs, Seq.empty[SeriesPoint])(
        _.url, _.ts, _ ++ _) { (url, bucket, rows) =>
      val sorted = rows.map(r => cents(r.value)).sorted
      val n = sorted.length
      val t = math.floor(alpha * n.toDouble).toLong
      val kept = sorted.slice(t.toInt, n - t.toInt)
      val sum = kept.foldLeft(0L)(_ + _)
      val trimmed = sum.toDouble / (100.0 * kept.length.toDouble)
      val winsor = (sum + t * (kept.head + kept.last)).toDouble /
        (100.0 * n.toDouble)
      Some(TrimOut(url, bucket, n.toLong, t, trimmed, winsor))
    }
  }

  /** STREAMING counter increase — the unbounded twin of
    * [[graft.ops.AnalyticsOps.counterIncrease]], per closed (url, bucket):
    * the PromQL-`increase` reset walk needs its bucket's rows in (ts, tie)
    * order (a late row splices into the middle and changes BOTH its
    * neighbours' deltas), so it buffers ONE bucket per key and emits
    * exactly once when the watermark closes it — the [[zscoreStream]]
    * discipline, state bounded by bucket span + lateness. Values are
    * decimal cents (HALF_UP, the batch op's DECIMAL(12,2)), diffs and
    * sums are integer arithmetic, and the final cents→double conversion
    * is the same correctly-rounded value as the batch DECIMAL→DOUBLE
    * cast — emitted rows equal batch q80's rows for closed buckets
    * EXACTLY. Single-row buckets emit a NULL increase, like the batch
    * sum over an all-NULL lag column. */
  def counterIncreaseStream(
      points: Dataset[TiedPoint],
      bucketMs: Long,
      lateness: String = "10 minutes"): Dataset[IncOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    closeOnWatermark(points, lateness, bucketMs, Seq.empty[TiedPoint])(
        _.url, _.ts, _ ++ _) { (url, bucket, rows) =>
      var inc = 0L
      var resets = 0L
      var prev = Long.MinValue
      var first = true
      rows.sorted(byTsTie).foreach { r =>
        val v = exactCents(r.value)
        if (!first) {
          if (v >= prev) inc += v - prev
          else { inc += v; resets += 1L }
        }
        prev = v
        first = false
      }
      val increase = if (rows.length > 1) Some(inc.toDouble / 100.0) else None
      Some(IncOut(url, bucket, increase, resets, rows.length.toLong))
    }
  }

  /** STREAMING as-of enrichment — the unbounded twin of
    * [[graft.ops.AsofOps.asofJoin]] for a single double payload: left
    * (event) rows are annotated with the most recent right (signal) value
    * with `right.ts <= left.ts` per url, right rows winning ties at equal
    * ts — the ASOF convention the batch op encodes by sorting side 0
    * first. Both sides share one watermark, so a left row is emitted
    * exactly when no earlier-or-equal right row can still arrive: rows
    * above the watermark buffer in state and the final prefix drains in
    * (ts, side, tie) order — the [[ewmaStream]] replay discipline over a
    * two-sided input. Dup-ts right rows are ordered by the explicit tie
    * (the batch window leaves that order unspecified; feed unique
    * (url, ts) right rows for exact batch parity). The carried payload
    * never expires — steady state is O(1) per url, the streaming analogue
    * of the batch running last-value window. */
  def asofStream(
      leftPoints: Dataset[TiedPoint],
      rightPoints: Dataset[TiedPoint],
      lateness: String = "10 minutes"): Dataset[AsofOut] = {
    val spark = leftPoints.sparkSession
    import spark.implicits._
    def tag(ds: Dataset[TiedPoint], side: Int) =
      ds.map(p => SidedPoint(p.url, p.ts, side, p.tie, p.value))
    // right (side 0) sorts before left at equal ts: ASOF tie rule; the
    // carried last right payload never expires
    bufferedReplay(tag(leftPoints, 1).union(tag(rightPoints, 0)), lateness,
        Option.empty[Double])(_.url, _.ts,
        Ordering.by((p: SidedPoint) => (p.ts, p.side, p.tie)), _ => false) {
      (url, last0, ready) =>
        var last = last0
        val out = ready.flatMap { p =>
          if (p.side == 0) { last = Some(p.value); None }
          else Some(AsofOut(url, p.ts, p.tie, p.value, last))
        }
        (out, last)
    }
  }

  /** STREAMING time-weighted average — the unbounded twin of
    * [[graft.ops.AnalyticsOps.timeWeightedAvg]], per closed (url, bucket):
    * the inherently order-complete op (every gap needs its successor)
    * buffers ONE bucket per key and emits exactly once when the watermark
    * closes it — the [[zscoreStream]] discipline, state bounded by bucket
    * span + lateness. The weighted sum accumulates scale-2 BigDecimal·ms
    * products in (ts, tie) order — the same integer arithmetic as the
    * batch op's DECIMAL(12,2) sums, so stream ≡ batch EXACTLY (spec). */
  def twaStream(
      points: Dataset[TiedPoint],
      bucketMs: Long,
      lateness: String = "10 minutes"): Dataset[TwaOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    closeOnWatermark(points, lateness, bucketMs, Seq.empty[TiedPoint])(
        _.url, _.ts, _ ++ _) { (url, bucket, rows) =>
      val ord = rows.sorted(byTsTie).toArray
      val span = ord.last.ts - ord.head.ts
      val twa = if (span > 0) {
        var wsum = java.math.BigDecimal.ZERO
        var i = 0
        while (i < ord.length - 1) {
          val v = java.math.BigDecimal.valueOf(ord(i).value)
            .setScale(2, java.math.RoundingMode.HALF_UP)
          wsum = wsum.add(v.multiply(
            java.math.BigDecimal.valueOf(ord(i + 1).ts - ord(i).ts)))
          i += 1
        }
        Some(wsum.doubleValue / span.toDouble)
      } else None
      Some(TwaOut(url, bucket, twa, span, ord.length.toLong))
    }
  }

  /** STREAMING per-(url, bucket) quantile sketch — the unbounded twin of
    * the q54 tier cascade's finest level. Each open group holds ONE
    * mergeable MRL sketch (O(k log(n/k)) state regardless of stream
    * length); values fold in on arrival, and the group's interpolated
    * p50/p95 are emitted exactly once when the watermark passes the bucket
    * end. Downstream tiers can consume the emitted rows, or a sink can
    * keep the sketches themselves and merge them batchwise with
    * [[graft.ops.QuantileSketch.MergeAgg]]. */
  def sketchQuantilesStream(
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      k: Int = 256,
      lateness: String = "10 minutes"): Dataset[QuantileBucketOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    import graft.ops.QuantileSketch
    closeOnWatermark(points, lateness, bucketMs, QuantileSketch.empty(k))(
        _.url, _.ts, (s, rows) => rows.foldLeft(s)((s, r) => QuantileSketch.update(s, r.value))) {
      (url, bucket, s) =>
        Some(QuantileBucketOut(url, bucket, s.n,
          QuantileSketch.quantile(s, 0.5), QuantileSketch.quantile(s, 0.95)))
    }
  }

  private def newState(cfg: Config) =
    new StreamingClaSPSegmentation(cfg.nTimepoints, cfg.nWarmup, logCps = true)

  /** The per-url detector step: feeds one point and returns the change
    * points it newly logged, each with `n_ingested` read at that moment. */
  private def step(state: StreamingClaSPSegmentation, url: String,
      p: SeriesPoint): Seq[CpEvent] = {
    val logged = state.changePoints.length
    state.update(p.value)
    (logged until state.changePoints.length).map(i =>
      CpEvent(url, state.changePoints(i), state.ingested.toLong))
  }

  /** Structured Streaming: one ClaSS state machine per url as arbitrary
    * group state; emits newly detected change points per batch, equal on
    * every column to [[detectBatch]] however the stream is chunked.
    * State lives as a flat value snapshot ([[graft.kernel.streaming.SegSnapshot]])
    * under the PRODUCT encoder — primitive arrays serialize as Spark
    * ArrayType, orders of magnitude faster per micro-batch than
    * Encoders.javaSerialization reflecting over the state-machine graph. */
  def detectStream(points: Dataset[SeriesPoint], cfg: Config = Config())
      : Dataset[CpEvent] = {
    require(cfg.stateBytesPerUrl() <= cfg.maxStateBytesPerUrl,
      s"detectStream state is ~${cfg.stateBytesPerUrl()} bytes/url " +
        s"(nTimepoints=${cfg.nTimepoints}) > maxStateBytesPerUrl=" +
        s"${cfg.maxStateBytesPerUrl}; lower nTimepoints for wide-key streams " +
        "or raise maxStateBytesPerUrl to acknowledge the state-store footprint")
    val spark = points.sparkSession
    import spark.implicits._
    implicit val stateEnc: Encoder[SegSnapshot] = Encoders.product[SegSnapshot]
    points
      .groupByKey(_.url)
      .flatMapGroupsWithState[SegSnapshot, CpEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (url: String, it: Iterator[SeriesPoint], gs: GroupState[SegSnapshot]) =>
          val state = gs.getOption
            .map(s => StreamingClaSPSegmentation.restore(s, cfg.nTimepoints, cfg.nWarmup,
              logCps = true))
            .getOrElse(newState(cfg))
          // per-group buffer here is bounded by ONE micro-batch of one url
          // (cap via maxOffsetsPerTrigger/maxFilesPerTrigger), not a series
          val out = it.toArray.sortBy(_.ts).flatMap(step(state, url, _))
          gs.update(state.snapshot)
          out.iterator
      }
  }

  /** Batch replay: the same state machine over complete per-url series —
    * the mega-series path (reference's own guidance: streaming ClaSP for
    * very large archives) and the Verify surface. Spark sorts each url's
    * group by ts and the step streams through it: one ring-buffer detector
    * per group, never a whole series in memory. */
  def detectBatch(points: Dataset[SeriesPoint], cfg: Config = Config())
      : Dataset[CpEvent] = {
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    points.groupByKey(_.url).flatMapSortedGroups(col("ts")) { (url, it) =>
      val state = newState(cfg)
      it.flatMap(step(state, url, _))
    }
  }

  /** Batch replay summary (always one row per url — used by rows-only
    * verification so empty-cp series still surface). */
  def summarizeBatch(points: Dataset[SeriesPoint], cfg: Config = Config())
      : Dataset[StreamSummary] = {
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    points.groupByKey(_.url).flatMapSortedGroups(col("ts")) { (url, it) =>
      val state = newState(cfg)
      val n = it.foldLeft(0L) { (n, p) => step(state, url, p); n + 1 }
      Iterator.single(StreamSummary(url, n,
        if (state.isWarmedUp) state.windowSize else -1,
        state.changePoints.length, state.lastCp))
    }
  }
}
