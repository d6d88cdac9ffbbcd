package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import graft.kernel.{BinaryClaSPSegmentation, Gorilla}

/** One raw observation of one series (`url` is the series key; `ts` epoch
  * millis UTC). The Spark-side analogue of the reference's positional
  * ndarray series (`/root/reference/claspy/utils.py:8-42`) keyed per url. */
final case class SeriesPoint(url: String, ts: Long, value: Double)

/** One rollup bucket at one retention tier. `epoch` is the index of the
  * containing ClaSP segment ("new segment = new aggregate epoch"); -1 when
  * segmentation was not requested. Gap-filled buckets carry cnt=0/sum=0 and
  * a locf mean so cascades stay raw-point-exact. */
final case class RollupRow(
    url: String,
    tier: String,
    epoch: Int,
    bucket_start: Long, // epoch millis
    cnt: Long,
    sum: Double,
    min: Double,
    max: Double,
    mean: Double,
    gap_filled: Boolean)

/** Gorilla-compressed (bucket_start, mean) stream of one (url, epoch)
  * segment at the base tier. */
final case class EpochBlob(url: String, epoch: Int, n_buckets: Int, gorilla: Array[Byte])

object Rollup {

  val TierMs: Map[String, Long] =
    Map("1m" -> 60000L, "1h" -> 3600000L, "1d" -> 86400000L)

  /** The rollup's chunk width: phase 1 of the chunked rollup cuts every
    * series into time chunks of this many buckets and runs batch ClaSP on
    * each, so one O(n²) mega-series never lands whole in one task — the
    * straggler that caps cluster scaling; the width keeps max task time
    * ~flat as data grows. [[segmentCps]] (q27) sends series longer than
    * this through the streaming ClaSS detector instead (the reference's
    * guidance for very large archives —
    * `claspy/notebooks/streaming_time_series.ipynb`; its README cites
    * sliding windows of 1k-10k). */
  val MegaSeriesBuckets = 4000

  // ------------------------------------------------------------------ kernel

  /** Mega-guarded change points: batch ClaSP under [[MegaSeriesBuckets]],
    * the O(ring) streaming detector above it. */
  def segmentCps(series: Array[Double]): Array[Int] = {
    val n = series.length
    if (n <= MegaSeriesBuckets) segmentEpochCps(series)
    else {
      // jump=50: the reference's jump=5 suits LIVE detection latency; for
      // offline epoch assignment a 50-bucket detection grid costs one
      // ClaSS fit per 50 points (~10× less) and only quantizes epoch
      // boundaries, which 1h/1d tiers re-bucket anyway
      val stream = new graft.kernel.streaming.StreamingClaSPSegmentation(
        nTimepoints = MegaSeriesBuckets, nWarmupIn = MegaSeriesBuckets,
        jump = 50, logCps = true)
      try {
        var i = 0
        while (i < n) { stream.update(series(i)); i += 1 }
        stream.changePoints.filter(c => c > 0 && c < n).distinct.sorted.toArray
      } catch { case e: Exception => logSegmentFailure(e); Array.empty[Int] }
    }
  }

  /** Raw change-point indices of one gap-filled bucket-mean span (a chunk of
    * the rollup's phase 1): BinaryClaSPSegmentation with degenerate-input
    * guards — too-short or (near-)constant series yield no change points. */
  def segmentEpochCps(series: Array[Double]): Array[Int] = {
    if (series.length < 60) return Array.empty
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var i = 0
    while (i < series.length) {
      val v = series(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    if (!(mx - mn > 0) || mx.isNaN || mn.isNaN) return Array.empty
    try new BinaryClaSPSegmentation().fitPredict(series)
    catch { case e: Exception => logSegmentFailure(e); Array.empty }
  }

  /** Kernel-failure telemetry: degraded epoch assignment (all epoch=0) must
    * never be silent. Counted per-executor and logged (first few in full) so
    * a kernel regression shows up in task logs and can be asserted on. */
  val segmentFailures = new java.util.concurrent.atomic.LongAdder
  private def logSegmentFailure(e: Exception): Unit =
    logKernelFailure("ClaSP segmentation", "single epoch", e)

  /** Shared degraded-path telemetry for every kernel entry point that falls
    * back to a default row on failure (q27 state summary, q28 multivariate,
    * StateOps.epochStates, the rollup epoch assignment): increment + log
    * the first few in full so kernel regressions never degrade silently. */
  def logKernelFailure(stage: String, fallback: String, e: Exception): Unit = {
    segmentFailures.increment()
    val n = segmentFailures.sum()
    if (n <= 5)
      System.err.println(s"[graft] $stage failed (#$n), falling back to $fallback: $e")
    else if (n % 1000 == 0)
      System.err.println(s"[graft] kernel fallback count so far: $n (latest: $stage)")
  }

  /** Gorilla blobs per (url, epoch) over the base-tier (bucket_start, mean)
    * stream. Input must be one url's rollup rows. */
  def kernelBlobs(url: String, rows: Array[RollupRow]): Array[EpochBlob] = {
    val sorted = rows.sortBy(_.bucket_start)
    sorted.groupBy(_.epoch).toArray.sortBy(_._1).map { case (epoch, rs) =>
      EpochBlob(url, epoch, rs.length,
        Gorilla.encode(rs.map(_.bucket_start), rs.map(_.mean)))
    }
  }

  // --------------------------------------------------------------- pipeline

  /** In-kernel tier aggregation: fold one url's 1m rows (already in bucket
    * order) into a coarser tier SEQUENTIALLY. Same row set as [[cascade]],
    * but the floating-point accumulation order is fixed, so output is
    * bit-identical at any parallelism — the basis of the N-vs-4N bit-for-bit
    * evidence. Also saves the cascade's extra shuffle: the per-url group is
    * already co-located. */
  def kernelTiers(rows1m: Array[RollupRow], tier: String): Array[RollupRow] = {
    val ms = TierMs(tier)
    val out = scala.collection.mutable.ArrayBuffer.empty[RollupRow]
    var cur: RollupRow = null
    val sorted = rows1m.sortBy(r => (r.epoch, r.bucket_start))
    var i = 0
    while (i < sorted.length) {
      val r = sorted(i)
      if (!r.gap_filled) {
        val b = r.bucket_start - Math.floorMod(r.bucket_start, ms)
        if (cur == null || cur.epoch != r.epoch || cur.bucket_start != b) {
          if (cur != null) out += cur.copy(mean = cur.sum / cur.cnt)
          cur = RollupRow(r.url, tier, r.epoch, b, r.cnt, r.sum, r.min, r.max, 0.0, gap_filled = false)
        } else {
          cur = cur.copy(cnt = cur.cnt + r.cnt, sum = cur.sum + r.sum,
            min = math.min(cur.min, r.min), max = math.max(cur.max, r.max))
        }
      }
      i += 1
    }
    if (cur != null) out += cur.copy(mean = cur.sum / cur.cnt)
    out.toArray
  }

  /** Intermediate row of the scalable two-phase rollup: a real (non-gap)
    * bucket aggregate, or (is_cp=true) a chunk-detected change point. */
  final case class Phase1Row(url: String, bucket_start: Long,
      cnt: Long, sum: Double, min: Double, max: Double, is_cp: Boolean)

  /** Phase 1 of the scalable rollup: key by (url, time-chunk of
    * [[MegaSeriesBuckets]] buckets) so mega-series split across MANY tasks —
    * the slowest task is bounded by chunk size, not by the largest url (a
    * single 10^7-point url would otherwise be the cluster-wide straggler). Each
    * chunk task bucket-aggregates in timestamp order (deterministic fp) and
    * runs ClaSP on its own gap-filled span — mirroring the reference's
    * `pranges` decomposition (`claspy/nearest_neighbour.py:389-400`). Chunk
    * edges force NO epoch boundary: a homogeneous chunk proposes no cps. */
  private def phase1Chunks(
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      segment: Boolean): Dataset[Phase1Row] = {
    val spark = points.sparkSession
    import spark.implicits._
    val chunkMs = bucketMs * MegaSeriesBuckets
    points
      .groupByKey(p => (p.url, Math.floorDiv(p.ts, chunkMs)))
      .flatMapGroups { (key: (String, Long), it: Iterator[SeriesPoint]) =>
        val url = key._1
        val pts = it.map(p => (p.ts, p.value)).toArray
        java.util.Arrays.sort(pts, Ordering.by[(Long, Double), (Long, Double)](identity))
        val first = Math.floorDiv(pts.head._1, bucketMs)
        val last = Math.floorDiv(pts.last._1, bucketMs)
        val nB = (last - first + 1).toInt
        val cnt = new Array[Long](nB)
        val sum = new Array[Double](nB)
        val mn = Array.fill(nB)(Double.PositiveInfinity)
        val mx = Array.fill(nB)(Double.NegativeInfinity)
        var i = 0
        while (i < pts.length) {
          val b = (Math.floorDiv(pts(i)._1, bucketMs) - first).toInt
          val v = pts(i)._2
          cnt(b) += 1; sum(b) += v
          if (v < mn(b)) mn(b) = v
          if (v > mx(b)) mx(b) = v
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Phase1Row]
        var b = 0
        while (b < nB) {
          if (cnt(b) > 0)
            out += Phase1Row(url, (first + b) * bucketMs, cnt(b), sum(b), mn(b), mx(b), is_cp = false)
          b += 1
        }
        if (segment) {
          val mean = new Array[Double](nB)
          var lastMean = 0.0
          b = 0
          while (b < nB) {
            if (cnt(b) > 0) lastMean = sum(b) / cnt(b)
            mean(b) = lastMean
            b += 1
          }
          for (cp <- segmentEpochCps(mean))
            out += Phase1Row(url, (first + cp) * bucketMs, 0L, 0.0, 0.0, 0.0, is_cp = true)
        }
        out.iterator
      }
  }

  /** Phase 2 walk of the scalable rollup: one url's BUCKET rows (≤ one row
    * per bucket, far smaller than raw points) → a linear sequential walk that
    * gap-fills across chunk boundaries and assigns epochs from the union of
    * chunk cps — all order-fixed, so output is bit-identical at any
    * parallelism and identical to the single-phase rollup for urls that fit
    * one chunk (proven in RollupPipelineSpec). */
  private def phase2BaseRows(
      url: String,
      all: Array[Phase1Row],
      bucketMs: Long,
      segment: Boolean,
      tier: String): Array[RollupRow] = {
    val cps = all.filter(_.is_cp).map(_.bucket_start).distinct.sorted
    val bkts = all.filter(!_.is_cp).sortBy(_.bucket_start)
    val first = Math.floorDiv(bkts.head.bucket_start, bucketMs)
    val last = Math.floorDiv(bkts.last.bucket_start, bucketMs)
    val nB = (last - first + 1).toInt
    val base = new Array[RollupRow](nB)
    var bi = 0
    var epoch = 0
    var nextCp = 0
    var lastMean = 0.0
    var b = 0
    while (b < nB) {
      val bs = (first + b) * bucketMs
      if (nextCp < cps.length && cps(nextCp) == bs) { epoch += 1; nextCp += 1 }
      if (bi < bkts.length && bkts(bi).bucket_start == bs) {
        val r = bkts(bi); bi += 1
        lastMean = r.sum / r.cnt
        base(b) = RollupRow(url, tier, if (segment) epoch else -1, bs,
          r.cnt, r.sum, r.min, r.max, lastMean, gap_filled = false)
      } else {
        base(b) = RollupRow(url, tier, if (segment) epoch else -1, bs,
          0L, 0.0, lastMean, lastMean, lastMean, gap_filled = true)
      }
      b += 1
    }
    base
  }

  /** The chunked two-phase skeleton of every rollup entry point:
    * [[phase1Chunks]], one shuffle on url, then [[phase2BaseRows]]' walk at
    * `tier`, whose rows `emit` turns into the url's output. */
  private def chunkedPerUrl[T: Encoder](
      points: Dataset[SeriesPoint],
      bucketMs: Long,
      segment: Boolean,
      tier: String)(
      emit: (String, Array[RollupRow]) => Iterator[T]): Dataset[T] = {
    val spark = points.sparkSession
    import spark.implicits._
    phase1Chunks(points, bucketMs, segment)
      .groupByKey(_.url)
      .flatMapGroups { (url, it) =>
        emit(url, phase2BaseRows(url, it.toArray, bucketMs, segment, tier))
      }
  }

  /** SCALABLE two-phase rollup, all three tiers from one kernel pass — the
    * skew-safe path (SURVEY.md §4.3): [[phase1Chunks]] bounds the straggler,
    * [[phase2BaseRows]] + [[kernelTiers]] fold sequentially per url. */
  def scalableRollupAllTiers(
      points: Dataset[SeriesPoint],
      bucketMs: Long = 60000L,
      segment: Boolean = true): Dataset[RollupRow] = {
    import points.sparkSession.implicits._
    chunkedPerUrl(points, bucketMs, segment, "1m") { (_, r1m) =>
      r1m.iterator ++ kernelTiers(r1m, "1h").iterator ++ kernelTiers(r1m, "1d").iterator
    }
  }

  /** SCALABLE two-phase rollup at a single base tier: skew-safe, no task
    * ever materializes one url's full raw-point series; bit-equal to the
    * single-phase rollup per RollupPipelineSpec. */
  def scalableRollup(
      points: Dataset[SeriesPoint],
      bucketMs: Long = 60000L,
      tier: String = "1m",
      segment: Boolean = true): Dataset[RollupRow] = {
    import points.sparkSession.implicits._
    chunkedPerUrl(points, bucketMs, segment, tier)((_, rows) => rows.iterator)
  }

  /** Gorilla blobs per (url, epoch) via the skew-safe two-phase path: phase
    * 1 never buffers a whole raw series. */
  def scalableEpochBlobs(
      points: Dataset[SeriesPoint],
      bucketMs: Long = 60000L,
      segment: Boolean = true): Dataset[EpochBlob] = {
    import points.sparkSession.implicits._
    chunkedPerUrl(points, bucketMs, segment, "base") { (url, rows) =>
      kernelBlobs(url, rows).iterator
    }
  }

  /** Tier cascade: re-aggregate a lower tier's NON-gap rows into a coarser
    * tier (classic continuous-aggregate cascade — the lower tier is the
    * partial aggregate, so Spark's partial/final hash-agg does the rest;
    * raw-point-exact because gap rows carry cnt=0/sum=0). */
  def cascade(lower: Dataset[RollupRow], tier: String): Dataset[RollupRow] = {
    val spark = lower.sparkSession
    import spark.implicits._
    val ms = TierMs(tier)
    // plain Catalyst hash-agg: whole-stage codegen + map-side partial
    // aggregation, unlike a typed mapGroups which would force an opaque
    // object shuffle of every lower-tier row
    lower.toDF()
      .filter(!col("gap_filled"))
      .groupBy(col("url"), col("epoch"),
        (col("bucket_start") - pmod(col("bucket_start"), lit(ms))).as("bucket_start"))
      .agg(sum("cnt").as("cnt"), sum("sum").as("sum"),
        min("min").as("min"), max("max").as("max"))
      .select(col("url"), lit(tier).as("tier"), col("epoch"), col("bucket_start"),
        col("cnt"), col("sum"), col("min"), col("max"),
        (col("sum") / col("cnt")).as("mean"), lit(false).as("gap_filled"))
      .as[RollupRow]
  }

  /** Retention: keep only buckets younger than `retainMs` relative to
    * `nowMs` (the data's max timestamp in tests/bench — never wall clock,
    * for determinism). */
  def retain(rows: Dataset[RollupRow], nowMs: Long, retainMs: Long): Dataset[RollupRow] =
    rows.filter(col("bucket_start") >= lit(nowMs - retainMs))

  /** INCREMENTAL continuous-aggregate refresh — the nightly-ingest path: a
    * batch of NEW raw points arrives and only the (url, bucket) groups it
    * touches are recomputed, as an UPSERT set to MERGE into the stored
    * rollup. Because cnt/sum/min/max are mergeable partial aggregates,
    * `delta ⊕ prev = full recompute` exactly (mean re-derived as sum/cnt),
    * so a day's refresh costs O(new data), never a rescan of the table.
    *
    * `prev` is the stored aggregate with columns (url, bucket_start, cnt,
    * sum, min, max) — any extra columns are dropped. Returned rows cover
    * exactly the buckets present in `newPoints` (brand-new buckets included;
    * untouched prev rows are by definition not re-written).
    *
    * Scale shape: the new batch collapses map-side to its touched buckets
    * (partial/final hash agg), then LEFT-joins `prev` on the aggregate keys
    * — with the rollup stored bucketed on url ([[graft.sources.TableIO
    * .writeBucketed]]) the probe is co-located (no prev-side shuffle), and
    * the delta side is new-data-sized, so AQE broadcasts it against a big
    * stored table. The FP caveat of any incremental design: sum re-orders
    * vs a monolithic recompute (prev-subtotal + delta-subtotal), identical
    * to the reassociation a partial/final hash agg already performs. */
  def incrementalRefresh(
      prev: DataFrame,
      newPoints: Dataset[SeriesPoint],
      bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val delta = newPoints.toDF()
      .groupBy(col("url"),
        (col("ts") - pmod(col("ts"), lit(bucketMs))).as("bucket_start"))
      .agg(count(lit(1)).as("d_cnt"), sum("value").as("d_sum"),
        min("value").as("d_min"), max("value").as("d_max"))
    delta
      .join(prev.select("url", "bucket_start", "cnt", "sum", "min", "max"),
        Seq("url", "bucket_start"), "left")
      .select(col("url"), col("bucket_start"),
        (coalesce(col("cnt"), lit(0L)) + col("d_cnt")).as("cnt"),
        (coalesce(col("sum"), lit(0.0)) + col("d_sum")).as("sum"),
        // least/greatest skip NULLs, so a brand-new bucket takes the delta's
        least(col("min"), col("d_min")).as("min"),
        greatest(col("max"), col("d_max")).as("max"))
      .withColumn("mean", col("sum") / col("cnt"))
  }

  /** Apply an [[incrementalRefresh]] upsert set to the stored aggregate —
    * the MERGE half of the refresh loop: upserted (url, bucket_start) keys
    * replace their stored rows, untouched rows pass through. Post-merge
    * table ≡ a full recompute over old+new raw data (PipelineOpsSpec).
    *
    * Scale shape: the anti-join's build side is the upsert KEY set (new-
    * data-sized; AQE broadcasts it), so untouched data is never shuffled —
    * and with a date-partitioned store, partition pruning on the upsert
    * keys' date range means untouched partitions are never even read. On
    * Iceberg this whole function is `MERGE INTO ... WHEN MATCHED` /
    * row-level-delete territory; on the parquet binding it pairs with
    * [[graft.sources.TableIO.write]]'s dynamic partition overwrite. */
  def mergeUpserts(
      prev: DataFrame,
      upserts: DataFrame,
      keys: Seq[String] = Seq("url", "bucket_start")): DataFrame =
    upserts.unionByName(
      prev.join(upserts.select(keys.map(col): _*), keys, "left_anti"))

  /** Real-time continuous-aggregate READ — the query-side complement of
    * [[incrementalRefresh]]/[[mergeUpserts]] (TimescaleDB's "real-time
    * aggregation"): serve fully-materialized buckets from the stored
    * rollup and aggregate only the raw tail past the materialization
    * watermark, so fresh data is visible without waiting for the next
    * refresh. The watermark must be bucket-aligned; the helper HARD-FILTERS
    * both sides on it (stored rows at/past the watermark are dropped, raw
    * rows before it are dropped), so a stale or over-eager stored table can
    * never double-count — result ≡ a full recompute over all raw data
    * (q81 oracle + PipelineOpsSpec).
    *
    * Scale shape: the stored side is a pruned scan (at 100 TB the
    * bucket_start filter is a partition predicate); the fresh side
    * aggregates ONLY the tail (watermark-bounded, typically one refresh
    * period of data) with one partial+final hash aggregate. No joins. */
  def realtimeRead(
      stored: DataFrame,
      raw: DataFrame,
      keyCol: Column,
      tsCol: Column,
      valueCol: Column,
      bucketMs: Long,
      watermarkMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(watermarkMs % bucketMs == 0,
      s"watermark must be bucket-aligned: $watermarkMs % $bucketMs != 0")
    val tsMs = unix_millis(tsCol.cast("timestamp"))
    val fresh = raw
      .filter(tsMs >= watermarkMs)
      .groupBy(keyCol.as("key"),
        (floor(tsMs / lit(bucketMs)) * lit(bucketMs)).cast("long")
          .as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(valueCol.cast("decimal(12,2)")).as("vsum"))
    stored
      .select(col("key"), col("bucket_start"), col("cnt"),
        col("vsum").cast("decimal(22,2)").as("vsum"))
      .filter(col("bucket_start") < watermarkMs)
      .unionByName(fresh.select(col("key"), col("bucket_start"), col("cnt"),
        col("vsum").cast("decimal(22,2)").as("vsum")))
  }

  // ------------------------------------------ DataFrame-level gap-fill ops

  /** Declarative gap-fill + locf over an aggregated (key, bucket, mean)
    * frame: every missing bucket takes the last observation before it.
    * Catalyst-visible (unlike the in-kernel path) so the optimizer can
    * prune/push; used by the oracle-checked q_gapfill queries. */
  def gapFillLocf(
      agg: DataFrame, // columns: key, bucket (timestamp), mean (double)
      bucketSeconds: Long): DataFrame =
    gapFill(agg, bucketSeconds)(col("prev_v"))

  /** Linear-interpolation gap fill (TimescaleDB `interpolate`-style, public
    * semantics): every missing bucket between a key's first and last
    * observation gets `prev + (next - prev) * (t - t_prev) / (t_next -
    * t_prev)`; a run of leading gaps takes the first observed value, which
    * cannot occur here because spans start at each key's min bucket. */
  def gapFillLinear(
      agg: DataFrame, // columns: key, bucket (timestamp), mean (double)
      bucketSeconds: Long): DataFrame = {
    // identical expression shape to the DuckDB oracle: ((next-prev) * dt) / span
    // parquet timestamps arrive as TIMESTAMP_NTZ; session is UTC so the
    // cast is instant-preserving (see q04/q33 and the NTZ gotcha note)
    val eb = unix_seconds(col("bucket").cast("timestamp")).cast("double")
    val ep = unix_seconds(col("prev_t").cast("timestamp")).cast("double")
    val en = unix_seconds(col("next_t").cast("timestamp")).cast("double")
    gapFill(agg, bucketSeconds)(observedOrEnds(
      col("prev_v") + (col("next_v") - col("prev_v")) * (eb - ep) / (en - ep)))
  }

  /** Nearest-observation gap fill (pandas `resample(...).nearest()`
    * semantics, public method — completing the locf/linear family): every
    * missing bucket takes the value of the CLOSEST observation in time;
    * exact-middle ties take the PREVIOUS one (so the fill degrades to LOCF
    * at ties — deterministic and oracle-expressible). Distances are integer
    * ms — the op is exact. */
  def gapFillNearest(
      agg: DataFrame, // columns: key, bucket (timestamp), mean (double)
      bucketSeconds: Long): DataFrame = {
    val eb = unix_millis(col("bucket").cast("timestamp"))
    val dPrev = eb - unix_millis(col("prev_t").cast("timestamp"))
    val dNext = unix_millis(col("next_t").cast("timestamp")) - eb
    gapFill(agg, bucketSeconds)(observedOrEnds(
      when(dPrev <= dNext, col("prev_v")).otherwise(col("next_v"))))
  }

  /** The gap-fill family's one skeleton: a row per bucket from each key's
    * first to its last observation (sequence() per key → explode → left
    * join), carrying the observation as `raw` (null in a gap) and, in
    * bucket order per key, the last observation at or before the row
    * (`prev_v` at `prev_t`) and the first at or after it (`next_v` at
    * `next_t`). `fill` computes the output `mean` from those columns;
    * `gap_filled` marks the rows that had no observation. Output columns:
    * key, bucket, mean, gap_filled.
    *
    * Scale shape: one shuffle on key for the span generation, windows
    * partitioned by key — no self-join, no inequality join; per-key state
    * is two running endpoints. Endpoint columns a fill never reads are
    * pruned with their windows by the optimizer. */
  private def gapFill(agg: DataFrame, bucketSeconds: Long)(fill: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the span build and the fill join both read the (key × bucket) frame
    val aggM = graft.ops.Adaptive.materialize(agg)
    val spans = aggM.groupBy("key")
      .agg(min("bucket").as("b0"), max("bucket").as("b1"))
      .select(col("key"), explode(
        sequence(col("b0"), col("b1"), expr(s"interval $bucketSeconds seconds"))).as("bucket"))
    val byBucket = Window.partitionBy("key").orderBy("bucket")
    val wPrev = byBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = byBucket.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsTs = when(col("raw").isNotNull, col("bucket"))
    spans.join(aggM.withColumnRenamed("mean", "raw"), Seq("key", "bucket"), "left")
      .withColumn("prev_v", last("raw", ignoreNulls = true).over(wPrev))
      .withColumn("prev_t", last(obsTs, ignoreNulls = true).over(wPrev))
      .withColumn("next_v", first("raw", ignoreNulls = true).over(wNext))
      .withColumn("next_t", first(obsTs, ignoreNulls = true).over(wNext))
      .withColumn("gap_filled", col("raw").isNull)
      .withColumn("mean", fill)
      .select(col("key"), col("bucket"), col("mean"), col("gap_filled"))
  }

  /** The observation where there is one; in a gap with only one endpoint
    * that endpoint, else `interior` (linear and nearest fills). */
  private def observedOrEnds(interior: Column): Column =
    when(col("raw").isNotNull, col("raw"))
      .when(col("next_v").isNull, col("prev_v"))
      .when(col("prev_v").isNull, col("next_v"))
      .otherwise(interior)
}
