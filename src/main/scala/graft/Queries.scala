package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.{CrawlSignals, Rollup, SeriesPoint, SyntheticCrawl}
import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}

/** All driver-facing queries. Each oracle-backed query has a DuckDB SQL twin
  * in [[Queries.oracles]] with IDENTICAL output column names and rounding
  * (driver hash-compares after sorting columns by name). Kernel/segmentation
  * queries are not SQL-expressible and appear only in [[Queries.all]]. */
object Queries {

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  private def eventPoints(s: SparkSession, dir: String) = {
    import s.implicits._
    events(s, dir)
      // parquet TIMESTAMP loads as NTZ in Spark 4; session TZ is UTC so the
      // cast is instant-preserving
      .select(col("user_id").cast("string").as("url"),
        unix_millis(col("ts").cast("timestamp")).as("ts"), col("value"))
      .as[SeriesPoint]
  }

  /** Fixed epoch anchor (2024-01-01T00:00:00Z) for integer time coordinates
    * in q123/q124 — keeps hour indices small enough that every OLS/CCF
    * sufficient statistic is an exact integer sum. */
  private val AnchorMs = 1704067200000L

  private val sfToken = "sf([0-9]*\\.?[0-9]+)".r

  /** Synthetic-input sizing for the kernel-heavy queries (q23/q25/q27/q28/
    * q31/q34), from the `sf<value>` token parsed from the data dir name:
    * `big` at sf ≥ 0.1, `mid` at sf ≥ 0.01, else `small` — also when the
    * name has no such token, so an arbitrarily named dir runs correctly
    * (just at smoke scale) instead of silently mis-sizing. */
  private def synthScale(dir: String, small: Int, mid: Int, big: Int): Int =
    sfToken.findFirstMatchIn(dir).map(_.group(1).toDouble) match {
      case Some(sf) if sf >= 0.1  => big
      case Some(sf) if sf >= 0.01 => mid
      case _                      => small
    }

  /** Output file count for a query-built rollup store (guide §6: size
    * files toward 128 MB; floor 1). The store is an aggregate of the
    * query's input, so the input footprint is a safe over-estimate — at
    * bench scale this writes ONE file instead of one per shuffle
    * partition (tiny-file churn on write AND read-back). */
  private def storeFiles(dir: String): Int =
    ops.Adaptive.outputFiles(ops.Adaptive.inputBytes(dir))

  private def rollupOut(df: DataFrame): DataFrame =
    df.select(col("url").as("user_id"),
      timestamp_millis(col("bucket_start")).cast("timestamp_ntz").as("bucket_start"),
      col("cnt"), round(col("sum"), 6).as("sum_val"),
      round(col("min"), 6).as("min_val"), round(col("max"), 6).as("max_val"),
      round(col("mean"), 6).as("mean_val"))

  // ------------------------------------------------------------- queries

  private val rawAll: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // --- continuous aggregates / tiers (oracle-backed)
    "q01_rollup_1m" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id").cast("string").as("user_id"),
          date_trunc("minute", col("ts")).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 6).as("sum_val"),
          round(min("value"), 6).as("min_val"), round(max("value"), 6).as("max_val"),
          round(avg("value"), 6).as("mean_val"))),

    "q02_rollup_1h_kernel" -> ((s, dir) =>
      rollupOut(Rollup.scalableRollup(eventPoints(s, dir), 3600000L, "1h", segment = false)
        .filter(!_.gap_filled).toDF())),

    "q03_rollup_1d_cascade" -> ((s, dir) =>
      rollupOut(Rollup.cascade(
        Rollup.scalableRollup(eventPoints(s, dir), 3600000L, "1h", segment = false),
        "1d").toDF())),

    "q04_gapfill_1h" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(col("user_id").cast("string").as("key"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(avg("value").as("mean"))
      Rollup.gapFillLocf(agg, 3600L)
        .select(col("key"), col("bucket"), round(col("mean"), 6).as("mean"), col("gap_filled"))
    }),

    // --- dedup / text ops (oracle-backed)
    "q05_dedup_exact" -> ((s, dir) =>
      DedupOps.exact(documents(s, dir)).select("doc_id", "lang", "source")),

    "q06_token_stats" -> ((s, dir) => TextOps.tokenStats(documents(s, dir))),

    "q07_quality" -> ((s, dir) => TextOps.qualityScore(documents(s, dir))),

    "q08_langid" -> ((s, dir) => TextOps.langId(documents(s, dir))),

    // --- similarity search (oracle-backed)
    "q09_topk_cosine" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      SimilarityOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 5)
    }),

    // --- window functions / anti-join / classic agg (oracle-backed)
    "q10_type_churn" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(when(col("prev_type").isNotNull && col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L)).as("churn"))
    }),

    "q11_resume_antijoin" -> ((s, dir) => {
      val done = events(s, dir).select("user_id").distinct()
        .filter(pmod(col("user_id"), lit(3)) === 0)
      events(s, dir).join(done, Seq("user_id"), "left_anti")
        .groupBy("user_id")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 6).as("sum_val"))
    }),

    "q12_lineitem_agg" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))),

    // --- kernel / segmentation queries (not SQL-expressible: rows-only)
    "q13_epoch_rollup_1h" -> ((s, dir) =>
      Rollup.scalableRollup(eventPoints(s, dir), 3600000L, "1h", segment = true)
        .toDF()
        .select(col("url").as("user_id"), col("epoch"),
          timestamp_millis(col("bucket_start")).cast("timestamp_ntz").as("bucket_start"),
          col("cnt"), round(col("mean"), 6).as("mean_val"), col("gap_filled"))),

    "q14_clasp_summary" -> ((s, dir) =>
      Rollup.scalableRollup(eventPoints(s, dir), 3600000L, "1h", segment = true)
        .toDF()
        .groupBy(col("url").as("user_id"))
        .agg((max("epoch") + 1).as("n_epochs"), count(lit(1)).as("n_buckets"),
          sum(when(col("gap_filled"), 1L).otherwise(0L)).as("n_gap_buckets"))),

    "q15_gorilla_blobs" -> ((s, dir) =>
      Rollup.scalableEpochBlobs(eventPoints(s, dir), 3600000L, segment = false)
        .toDF()
        .select(col("url").as("user_id"), col("epoch"), col("n_buckets"),
          octet_length(col("gorilla")).as("blob_bytes"),
          round(col("n_buckets") * 16.0 / greatest(octet_length(col("gorilla")), lit(1)), 3)
            .as("compression"))),

    "q16_minhash_pairs" -> ((s, dir) => {
      val docs = documents(s, dir).select("doc_id", "text")
      val clones = docs.select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
      DedupOps.minhashLshPairs(docs.union(clones), threshold = 0.5)
    }),

    "q17_simhash" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"), DedupOps.simhash(col("text")).as("simhash64"))),

    "q18_lsh_neardup_emb" -> ((s, dir) => {
      val emb = embeddings(s, dir).select("vec_id", "embedding")
      val clones = emb.select((col("vec_id") + lit(1000000000L)).as("vec_id"), col("embedding"))
      SimilarityOps.lshNearDupPairs(emb.union(clones), threshold = 0.95)
    }),

    // --- SemDeDup-shaped end-to-end embedding dedup (oracle-backed vs the
    // exact all-pairs cosine transitive closure, the q55 pattern): LSH
    // pairs -> connected components -> canonical per component
    "q151_embed_dedup" -> ((s, dir) => {
      val emb = embeddings(s, dir).select("vec_id", "embedding")
      val clones = emb.select((col("vec_id") + lit(1000000000L)).as("vec_id"), col("embedding"))
      SimilarityOps.embeddingDedupPipeline(emb.union(clones), threshold = 0.95)
    }),

    // --- cross-lingual nearest neighbours (oracle-backed, the q09 exact
    // pattern + language predicate): bitext/translation candidate mining
    "q152_crosslingual_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      SimilarityOps.crossLingualTopK(emb, documents(s, dir).select("doc_id", "lang"),
        emb.filter(col("vec_id") < 8), 5)
    }),

    // --- per-source duplication report (oracle-backed vs the q55 closure
    // grouped by source): the crawl-operator re-weighting table
    "q153_dedup_report" -> ((s, dir) =>
      DedupOps.dedupReport(documents(s, dir), col("source"))),

    "q19_ivf_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      SimilarityOps.ivfTopK(emb, emb.filter(col("vec_id") < 8), 5)
    }),

    "q20_media_meta" -> ((s, dir) =>
      MultimodalOps.extractMeta(MultimodalOps.syntheticMedia(documents(s, dir))).toDF()),

    "q21_frame_samples" -> ((s, dir) =>
      MultimodalOps.sampleFrames(
        MultimodalOps.extractMeta(MultimodalOps.syntheticMedia(documents(s, dir))), 30)),

    "q22_fingerprint" -> ((s, dir) => TextOps.fingerprint(documents(s, dir))),

    "q24_stream_summary" -> ((s, dir) =>
      graft.streaming.StreamStage.summarizeBatch(eventPoints(s, dir),
        graft.streaming.StreamStage.Config(nTimepoints = 512, nWarmup = 64)).toDF()
        .select(col("url").as("user_id"), col("n_points"), col("window_size"),
          col("n_cps"), col("last_cp"))),

    "q25_stream_cps" -> ((s, dir) => {
      val nUrls = synthScale(dir, 8, 24, 72)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 900)
      graft.streaming.StreamStage.detectBatch(CrawlSignals.pageSize(pages),
        graft.streaming.StreamStage.Config(nTimepoints = 2048, nWarmup = 200)).toDF()
    }),

    // --- state detection / process discovery (SURVEY §2.11)
    "q26_state_transitions" -> ((s, dir) =>
      ops.StateOps.transitionProbs(events(s, dir), col("user_id"),
          Seq(col("ts"), col("event_id")), col("event_type"))
        .select(col("key").as("user_id"), col("from_state"), col("to_state"),
          col("cnt"), col("prob"))),

    "q27_state_detection" -> ((s, dir) => {
      import s.implicits._
      // bucket means via the two-phase kernel (raw points never grouped per
      // url); ONE group per url over bucket rows feeds the CLaP detector.
      // Input: the crawl table's page-size signal (has planted regime
      // shifts; the events table has none, which makes detection trivial)
      val nUrls = synthScale(dir, 12, 32, 96)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 600)
      Rollup.scalableRollup(CrawlSignals.pageSize(pages), 60000L, "1m", segment = false)
        .groupByKey(_.url)
        .mapGroups { (url, it) =>
          val means = it.toArray.sortBy(_.bucket_start).map(_.mean)
          try {
            val det = new graft.kernel.AgglomerativeClapDetection(
              windowSizeMethod = "suss",
              classifier = new graft.kernel.RocketClassifier(100))
            // mega-series guard: Rollup.segmentCps routes series above the
            // chunk bound through the O(ring) streaming detector instead of
            // the O(n²) batch segmentation; CLaP classifies + merges as usual
            val cpsIn: Array[Int] =
              if (means.length <= Rollup.MegaSeriesBuckets) null
              else Rollup.segmentCps(means)
            val res = det.fit(Array(means), cpsIn)
            val (states, trans) = res.process
            (url, means.length.toLong, res.windowSize, res.changePointsIn.length,
              res.changePoints.length, states.size, trans.size)
          } catch {
            case e: Exception =>
              Rollup.logKernelFailure("CLaP state detection (q27)", "degraded summary row", e)
              (url, means.length.toLong, -1, 0, 0, 1, 0)
          }
        }
        .toDF("user_id", "n_buckets", "window_size", "n_cps_in",
          "n_cps_merged", "n_states", "n_transitions")
    }),

    "q28_multivariate_cps" -> ((s, dir) => {
      import s.implicits._
      // d-dim series per url (SURVEY §1.4): two row-aligned crawl signals,
      // bucket-aggregated map-side, multivariate ClaSP per url over the
      // (bounded) bucket rows
      val nUrls = synthScale(dir, 16, 48, 160)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 300)
      val base = pages.select(col("url"), unix_millis(col("warc_ts")).as("ts"),
        octet_length(col("html")).cast("double").as("size"),
        length(col("text")).cast("double").as("tlen"))
      // two-phase like the rollup: a 19k-bucket mega url would otherwise run
      // one O(n²·d) segmentation task (measured 19 s straggler); chunked
      // keys bound per-task cost and a hash-agg merges per url
      val chunkMs = 60000L * Rollup.MegaSeriesBuckets
      val perChunk = base
        .groupBy(col("url"), (col("ts") - pmod(col("ts"), lit(60000L))).as("bucket"))
        .agg(avg("size").as("size"), avg("tlen").as("tlen"))
        .as[(String, Long, Double, Double)]
        .groupByKey(r => (r._1, Math.floorDiv(r._2, chunkMs)))
        .mapGroups { (key: (String, Long), it: Iterator[(String, Long, Double, Double)]) =>
          val url = key._1
          val rows = it.toArray.sortBy(_._2)
          val dims = Array(rows.map(_._3), rows.map(_._4))
          val cps =
            try new graft.kernel.BinaryClaSPSegmentation().fitPredict(dims)
            catch {
              case e: Exception =>
                Rollup.logKernelFailure("multivariate ClaSP (q28)", "no change points", e)
                Array.empty[Int]
            }
          (url, rows.length.toLong, cps.length,
            if (cps.nonEmpty) rows(cps(0))._2 else Long.MaxValue)
        }
      perChunk.toDF("url", "n_buckets", "n_cps", "fcb")
        .groupBy("url")
        .agg(sum("n_buckets").as("n_buckets"), sum("n_cps").as("n_cps"),
          min("fcb").as("fcb"))
        .select(col("url"), col("n_buckets"), col("n_cps"),
          when(col("fcb") === Long.MaxValue, -1L).otherwise(col("fcb")).as("first_cp_bucket"))
    }),

    "q29_jaccard_exact" -> ((s, dir) => {
      // exact all-pairs shingle Jaccard on a bounded slice — the oracle that
      // pins the verification math behind the LSH queries (q16)
      import graft.functions.functions.{hashed_shingles, sorted_jaccard}
      val docs = documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), hashed_shingles(col("text"), 3).as("sh"))
      docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          round(sorted_jaccard(col("a.sh"), col("b.sh")), 6).as("jaccard"))
    }),

    "q30_rollup_gapfill_1h" -> ((s, dir) =>
      // full two-phase rollup rows INCLUDING locf gap buckets (the in-kernel
      // gap-fill twin of the declarative q04)
      Rollup.scalableRollup(eventPoints(s, dir), 3600000L, "1h", segment = false)
        .toDF()
        .select(col("url").as("user_id"),
          timestamp_millis(col("bucket_start")).cast("timestamp_ntz").as("bucket_start"),
          col("cnt"), round(col("mean"), 6).as("mean_val"),
          round(col("min"), 6).as("min_val"), round(col("max"), 6).as("max_val"),
          col("gap_filled"))),

    "q33_m4_downsample" -> ((s, dir) =>
      // M4 downsample of the raw event series to 1-day pixels
      ops.DownsampleOps.m4(events(s, dir).select("event_id", "user_id", "ts", "value"),
          col("user_id"), col("ts"), col("value"), 86400000L)
        .select(col("event_id"), col("user_id"), col("bucket"), col("ts"),
          round(col("value"), 6).as("value"))),

    // LTTB to 24 representative points per user over 1-MINUTE bucket
    // minima (bucket rows per group — the bounded shape, never raw
    // points). Oracle-backed via the same parameterized recursive-CTE
    // mirror as q70 (lttbMirrorSql): y = min(value) is exact under any
    // partitioning, so every triangle-area double is bit-identical
    // cross-engine. Complements q70's hour/max/48 flavour at the minute
    // tier; the avg flavour stays golden-pinned in LttbGoldenSpec.
    "q34_lttb_downsample" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(col("user_id").cast("string").as("url"),
          unix_millis(date_trunc("minute", col("ts"))).as("x"))
        .agg(min("value").as("y"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (u, it) =>
          val rows = it.toArray.sortBy(_._2)
          val idx = ops.DownsampleOps.lttbIndices(rows.map(_._2), rows.map(_._3), 24)
          idx.iterator.map(i => (u, rows(i)._2, rows(i)._3))
        }
        .toDF("url", "x", "y")
        .select(col("url").as("user_id"),
          timestamp_millis(col("x")).cast("timestamp_ntz").as("bucket_start"),
          round(col("y"), 6).as("min_val"))
    }),

    "q32_asof_enrich" -> ((s, dir) => {
      // as-of join: every event enriched with the user's most recent
      // purchase value at-or-before its timestamp (sparse right side)
      val ev = events(s, dir).select("event_id", "user_id", "ts")
      val purchases = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("value").as("last_purchase"))
      ops.AsofOps.asofJoin(ev, purchases, "user_id", "ts", Seq("last_purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("last_purchase"), 6).as("last_purchase"))
    }),

    "q31_epoch_states" -> ((s, dir) => {
      // recurring-epoch state ids over the adaptive rollup: epochs that
      // revisit a regime collapse to one state (agglomerative CLaP)
      val nUrls = synthScale(dir, 8, 16, 48)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 600)
      ops.StateOps.epochStates(
        Rollup.scalableRollup(CrawlSignals.pageSize(pages), 60000L, "1m", segment = true))
    }),

    "q23_crawl_pipeline_1d" -> ((s, dir) => {
      // full engine slice on the synthetic crawl table (input_hint shape)
      val nUrls = synthScale(dir, 12, 32, 96)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 300)
      Rollup.cascade(
        Rollup.scalableRollup(CrawlSignals.pageSize(pages), 60000L, "1m", segment = true),
        "1d").toDF()
        .select(col("url"), col("epoch"), timestamp_millis(col("bucket_start")).cast("timestamp_ntz").as("bucket_start"),
          col("cnt"), round(col("mean"), 6).as("mean_val"))
    }),

    "q35_mv_series_column" -> ((s, dir) => {
      // generic multivariate surface (SURVEY §1.4): a true
      // ArrayType(ArrayType(Double)) dim-major series column assembled in
      // Catalyst and segmented by the multivariate kernel — TWO-PHASE like
      // q28/Rollup: assembly keys are (url, chunk) so no task ever collects
      // a whole mega url, and a chunk-count-sized hash-agg merges per url
      val nUrls = synthScale(dir, 12, 32, 96)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 300)
      val base = pages.select(col("url"), unix_millis(col("warc_ts")).as("ts"),
        octet_length(col("html")).cast("double").as("size"),
        length(col("text")).cast("double").as("tlen"))
        .groupBy(col("url"), (col("ts") - pmod(col("ts"), lit(60000L))).as("bucket"))
        .agg(avg("size").as("size"), avg("tlen").as("tlen"))
      ops.MultivarOps.segmentChunked(base, "url", "bucket", Seq("size", "tlen"),
          chunkSpan = 60000L * Rollup.MegaSeriesBuckets)
        .select(col("key").as("url"), col("n_dims"), col("n_points"),
          col("n_cps"), col("first_cp"))
    }),

    // --- gap-fill by linear interpolation (oracle-backed)
    "q36_gapfill_linear" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(col("user_id").cast("string").as("key"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(avg("value").as("mean"))
      Rollup.gapFillLinear(agg, 3600L)
        // round-8, not 6: the synthetic values are dyadic, so midpoint
        // interpolants terminate within 8 decimals — both engines round an
        // exactly-representable value and agree; at 6 digits they sit ON
        // the half boundary and the engines' round() paths differ by 1 ulp
        .select(col("key"), col("bucket"), round(col("mean"), 8).as("mean"), col("gap_filled"))
    }),

    // --- retention/TTL expiry across tiers (oracle-backed)
    "q37_retention_expiry" -> ((s, dir) => {
      // tier fan-out WITHOUT rescanning events: aggregate to 1m once, then
      // explode each 1m row into its (1m, 1h, 1d) tier buckets and
      // re-aggregate. ONE events scan + one event-sized shuffle; the tier
      // shuffle moves only 3× the (much smaller) 1m aggregate — the 100-TB
      // shape. (A union of per-tier groupBys rescans the source per tier:
  // Catalyst pushes tier-specific null filters into each branch's
      // scan, so exchange reuse can never collapse them.)
      val ev = events(s, dir)
      val m1 = ev.groupBy(col("user_id").cast("string").as("key"),
          date_trunc("minute", col("ts")).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"))
      val tiers = m1
        .select(col("key"), col("cnt"), explode(array(
          struct(lit("1m").as("tier"), col("bucket_start").as("bucket_start")),
          struct(lit("1h").as("tier"),
            date_trunc("hour", col("bucket_start")).as("bucket_start")),
          struct(lit("1d").as("tier"),
            date_trunc("day", col("bucket_start")).as("bucket_start")))).as("t"))
        .groupBy(col("t.tier").as("tier"), col("key"),
          col("t.bucket_start").as("bucket_start"))
        .agg(sum("cnt").as("cnt"))
      // anchor = max 1m bucket = minute-trunc of max ts (truncation is
      // monotone): a pruned single-agg scan instead of re-running the
      // whole tier lineage for one scalar
      val anchor = ev.agg(max(unix_millis(
        date_trunc("minute", col("ts")).cast("timestamp"))).as("anchor_ms"))
      ops.RetentionOps.applyRetention(tiers, anchor,
          Map("1m" -> 3L * 86400000L, "1h" -> 14L * 86400000L),
          "tier", "bucket_start")
        .groupBy("tier")
        .agg(count(lit(1)).as("kept_rows"), sum("cnt").as("kept_events"),
          min("bucket_start").as("min_bucket"), max("bucket_start").as("max_bucket"))
    }),

    // --- gap-based sessionization (oracle-backed)
    "q38_sessionize" -> ((s, dir) =>
      ops.SessionOps.sessionize(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), 1800000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"))),

    // --- exact interpolated percentiles per tier bucket (oracle-backed):
    // latency-percentile-style rollup; one partial+final agg, and round-8
    // for the same dyadic-midpoint reason as q36 (percentile interpolation
    // halves dyadic neighbours)
    "q39_percentile_rollup" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          round(expr("percentile(value, 0.5)"), 8).as("p50"),
          round(expr("percentile(value, 0.95)"), 8).as("p95"),
          countDistinct("event_type").as("n_types"))),

    // --- grouped top-k with deterministic tie-break (oracle-backed)
    "q40_top_event_types" -> ((s, dir) => {
      val counts = events(s, dir).groupBy("user_id", "event_type").count()
      val w = Window.partitionBy("user_id")
        .orderBy(col("count").desc, col("event_type"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("user_id", "event_type", "count", "rank")
    }),

    // --- per-series delta + per-second rate (oracle-backed): the PromQL
    // counter-derivative primitive; one keyed window pass
    "q41_delta_rate" -> ((s, dir) =>
      ops.AnalyticsOps.deltaRate(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("delta"), 6).as("delta"), round(col("rate"), 8).as("rate"))),

    // --- per-(user, day) z-score outliers (oracle-backed): agg-join shape,
    // NOT an unbounded window — group state stays O(groups) at scale
    "q42_zscore_outliers" -> ((s, dir) =>
      ops.AnalyticsOps.zscore(events(s, dir),
          col("user_id"), date_trunc("day", col("ts")), col("value"), 2.5)
        .filter(col("is_outlier"))
        .select(col("event_id"), col("user_id"),
          date_trunc("day", col("ts")).as("day"), round(col("z"), 6).as("z"))),

    // --- fixed-width value histogram per (user, day) (oracle-backed):
    // globally aligned bins, single partial+final hash aggregate
    "q43_value_histogram" -> ((s, dir) =>
      ops.AnalyticsOps.histogram(events(s, dir),
        col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("value"), 10.0)),

    // --- sketch percentiles (oracle-backed since r5 in the exact small-n
    // regime: rank ceil(p*n) of the sorted group while the summary stays
    // uncompressed; AnalyticsOpsSpec bounds the compacted regime's error
    // vs the exact q39 values): GK-summary mergeable sketches are the
    // 100-TB path — bounded memory per group regardless of group size,
    // where q39's exact percentile must buffer whole groups
    "q44_sketch_percentiles" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          expr("percentile_approx(value, 0.5, 1000)").as("p50_approx"),
          expr("percentile_approx(value, 0.95, 1000)").as("p95_approx"))),

    // --- sketch distinct counts (rows-only; spec bounds relative error):
    // HLL++ is the 100-TB path for cardinality — O(1) state per group,
    // mergeable map-side, where countDistinct expands to an extra
    // per-distinct-value shuffle
    "q45_sketch_distinct" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          approx_count_distinct(col("user_id"), 0.02).as("users_approx"),
          approx_count_distinct(col("event_type"), 0.02).as("types_approx"))),

    // --- distributed EWMA (rows-only; AnalyticsOpsSpec pins it to the
    // sequential recurrence): segmented-scan affine composition — the
    // sequential smoother without per-series group walks
    "q46_ewma" -> ((s, dir) =>
      // RAW doubles, no rounding: the oracle is an exact FP MIRROR of the
      // engine's segmented scan (same op order per phase), so values match
      // bit-for-bit — a sequential-recurrence oracle would differ at ~1e-10
      // from the scan's reassociated arithmetic and flip rounding
      // boundaries (~1 row in 10k at 6 decimals, measured)
      ops.AnalyticsOps.ewma(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          alpha = 0.3, bucketMs = 86400000L)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("ts"), col("value"), col("ewma"))),

    // --- Holt double-exponential smoothing (oracle-backed; AnalyticsOpsSpec
    // additionally pins level/trend to the sequential recurrence): the EWMA
    // segmented scan generalized to 2x2 matrix composition for a
    // linear-trend state. Raw doubles — exact-mirror oracle, like q46.
    "q49_holt_trend" -> ((s, dir) =>
      ops.AnalyticsOps.holt(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          alpha = 0.3, betaT = 0.1, bucketMs = 86400000L)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("ts"), col("value"), col("level"), col("trend"), col("forecast"))),

    // --- min-gap throttle (oracle-backed): drop events arriving within
    // 60s of the previous same-(user, type) event — one keyed window pass
    "q47_throttle_dups" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val tsMs = unix_millis(col("ts").cast("timestamp"))
      events(s, dir)
        .withColumn("gap", tsMs - lag(tsMs, 1).over(w))
        .filter(col("gap").isNull || col("gap") > 60000L)
        .select("event_id", "user_id", "event_type", "ts")
    }),

    // --- 3-bucket moving average over the 1h rollup (oracle-backed):
    // window-over-aggregate, the continuous-aggregate smoothing pattern;
    // both shuffles key on user_id so the exchange is reused
    "q48_moving_avg" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(col("user_id").cast("string").as("user_id"),
          date_trunc("hour", col("ts")).as("bucket_start"))
        .agg(avg("value").as("mean"))
      val w = Window.partitionBy("user_id").orderBy("bucket_start")
        .rowsBetween(-2, Window.currentRow)
      agg.withColumn("ma3", round(avg("mean").over(w), 6))
        .select(col("user_id"), col("bucket_start"),
          round(col("mean"), 6).as("mean"), col("ma3"))
    }),

    // --- Holt-Winters additive seasonal smoothing (oracle-backed): the
    // segmented scan generalized to the (level, trend, seasonal-vector)
    // state — per-chunk composed affine maps, chunk-count-sized phase 2,
    // exact sequential re-walk per chunk (see AnalyticsOps.holtWinters).
    // period=7: the seasonal slot a weekly-cycle metric would use.
    // Raw doubles — exact-mirror oracle, like q46/q49.
    "q50_holt_winters" -> ((s, dir) =>
      ops.AnalyticsOps.holtWinters(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          alpha = 0.3, betaT = 0.1, gamma = 0.2, period = 7,
          bucketMs = 86400000L)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("ts"), col("value"), col("level"), col("trend"),
          col("seasonal"), col("forecast"))),

    // --- corpus vocabulary (oracle-backed): the tokenizer-building /
    // corpus-stats primitive — explode + map-side-combined count, then a
    // DISTRIBUTED top-N (TakeOrderedAndProject), rank window over N rows
    "q51_vocab" -> ((s, dir) => TextOps.vocabulary(documents(s, dir), 200)),

    // --- SpaceSaving heavy hitters per day (oracle-backed in the exact
    // regime): the O(capacity)-state approximate twin of exact top-k
    // (q40) — capacity 64 >> per-day event_type cardinality, so estimates
    // are exact and err = 0; the sketchy-regime guarantee is spec-pinned
    // (HeavyHittersSpec)
    "q52_heavy_hitters" -> ((s, dir) =>
      ops.HeavyHitters.perBucket(events(s, dir),
        date_trunc("day", col("ts")), col("event_type"),
        capacity = 64, k = 5)),

    // --- near-dup components (oracle-backed): dedup GROUPS over the exact
    // Jaccard pairs (>= 0.5) of the bounded q29 slice — iterative min-label
    // propagation; comp = min doc_id per component. The >= 0.5 threshold
    // compares an exact small-integer ratio, so engine and oracle can never
    // disagree at the boundary.
    "q53_dedup_components" -> ((s, dir) => {
      import graft.functions.functions.{hashed_shingles, sorted_jaccard}
      val slice = documents(s, dir).filter(col("doc_id") < 60)
      val docs = slice.select(col("doc_id"), hashed_shingles(col("text"), 3).as("sh"))
      val pairs = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
        .filter(sorted_jaccard(col("a.sh"), col("b.sh")) >= 0.5)
        .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      ops.DedupOps.connectedComponents(
          slice.select(col("doc_id").as("node")), pairs)
        .select(col("node").as("doc_id"), col("comp").as("component"))
    }),

    // --- tier-CASCADED sketch percentiles (oracle-backed in the exact
    // regime): per-minute quantile sketches merge into hours, hours into
    // days — the partial sketch is a COLUMN value, so coarser tiers never
    // re-read raw data (percentile_approx can't do this: its partial state
    // never surfaces). Group sizes here stay far below k=256, so no
    // compaction fires and the day quantiles are exactly quantile_cont;
    // the compacted regime's rank-error bound is QuantileSketchSpec's job.
    "q54_sketch_cascade" -> ((s, dir) => {
      import s.implicits._
      val k = 256
      val skAgg = new ops.QuantileSketch.SketchAgg(k).toColumn
      val mergeAgg = new ops.QuantileSketch.MergeAgg(k).toColumn
      val m1 = events(s, dir)
        .select(col("user_id").cast("string").as("key"),
          floor(unix_millis(col("ts").cast("timestamp")) / lit(60000L))
            .cast("long").as("m"),
          col("value").cast("double").as("v"))
        .as[(String, Long, Double)]
        .groupByKey(r => (r._1, r._2)).mapValues(_._3).agg(skAgg.name("sk"))
      val h1 = m1
        .groupByKey { case ((key, m), _) => (key, Math.floorDiv(m, 60L)) }
        .mapValues(_._2).agg(mergeAgg.name("sk"))
      val d1 = h1
        .groupByKey { case ((key, h), _) => (key, Math.floorDiv(h, 24L)) }
        .mapValues(_._2).agg(mergeAgg.name("sk"))
      d1.map { case ((key, d), sk) =>
          (key, d * 86400000L, sk.n,
            ops.QuantileSketch.quantile(sk, 0.5),
            ops.QuantileSketch.quantile(sk, 0.95))
        }
        .toDF("user_id", "day_ms", "cnt", "p50", "p95")
        .select(col("user_id"),
          timestamp_millis(col("day_ms")).cast("timestamp_ntz").as("day"),
          col("cnt"), round(col("p50"), 8).as("p50"),
          round(col("p95"), 8).as("p95"))
    }),

    // --- the at-scale near-dup dedup composition (oracle-backed): LSH
    // candidates → exact-Jaccard verify → components → canonical doc. q53
    // pins the component math on exact all-pairs edges; here the edge list
    // comes from the banded MinHash path (8×2 banding: P[miss] ≤ 2e-6 per
    // true pair at J ≥ 0.9 — this corpus's 25 true pairs all sit there, so
    // engine ≡ exact-closure oracle deterministically)
    "q55_dedup_pipeline" -> ((s, dir) =>
      DedupOps.dedupPipeline(documents(s, dir))),

    // --- Gopher-style repetition filter (oracle-backed)
    "q56_repetition_filter" -> ((s, dir) =>
      TextOps.repetitionStats(documents(s, dir))),

    // --- corpus assembly (oracle-backed): per-stratum token budgeting and
    // benchmark decontamination (eval set = doc_id % 50 == 0, a synthetic
    // held-out benchmark)
    "q57_token_budget" -> ((s, dir) =>
      ops.CorpusOps.tokenBudget(documents(s, dir), 400L)),

    "q58_decontaminate" -> ((s, dir) => {
      val docs = documents(s, dir)
      ops.CorpusOps.decontaminate(
        docs, docs.filter(col("doc_id") % 50 === 0).select("doc_id"), k = 5)
    }),

    // --- the full corpus-assembly composition (oracle-backed): quality ∧
    // repetition ∧ near-dup-canonical ∧ decontaminated, reported as the
    // per-stratum training mix. Every stage is an independently oracled op
    // (q07/q56/q55/q58); this pins their COMPOSITION.
    "q59_corpus_mix" -> ((s, dir) => {
      // four keep-flag stages + the final projection each consume the
      // corpus through their OWN column-pruned parquet scan (doc_id+text
      // only — pushdown keeps each rescan minimal). The raw scan is NOT
      // materialized: at 100 TB the corpus cannot be held, so the rescan
      // IS the scalable default; only flag-sized intermediates (see
      // buildCorpus's decision table) are ever materialized.
      val docs = documents(s, dir)
      val quality = TextOps.qualityScore(docs).select(col("doc_id"), col("keep").as("q_keep"))
      val rep = TextOps.repetitionStats(docs).select(col("doc_id"), col("keep").as("r_keep"))
      val dedup = DedupOps.dedupPipeline(docs).select(col("doc_id"), col("keep").as("d_keep"))
      val decon = ops.CorpusOps.decontaminate(
        docs, docs.filter(col("doc_id") % 50 === 0).select("doc_id"), k = 5)
      docs
        .select(col("doc_id"), col("lang"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(quality, Seq("doc_id")).join(rep, Seq("doc_id"))
        .join(dedup, Seq("doc_id"))
        .join(decon, Seq("doc_id")) // inner join drops the eval docs
        .filter(col("q_keep") && col("r_keep") && col("d_keep") && !col("contaminated"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("docs_kept"), sum("n_tokens").as("tokens_kept"))
    }),

    // --- deterministic training-shard export (oracle-backed): the
    // reproducible "global shuffle" — shard + in-shard position are pure
    // functions of doc_id, so any cluster size produces byte-identical
    // shards
    "q60_shard_export" -> ((s, dir) =>
      ops.CorpusOps.shardAssign(documents(s, dir), nShards = 16)),

    // --- PII / blocklist scrub audit (oracle-backed): RE2-portable
    // redaction counts; the blocklist terms are this corpus's surrogate for
    // real PII lexicons
    "q61_pii_scrub" -> ((s, dir) =>
      TextOps.piiScrub(documents(s, dir), Seq("customer", "spark"))),

    // --- semi-structured JSON prop extraction + rollup (oracle-backed)
    "q62_json_props" -> ((s, dir) =>
      ops.AnalyticsOps.jsonPropStats(events(s, dir))),

    // --- normalization-aware exact dedup (oracle-backed): case/whitespace
    // canonicalization before digesting — the cheap pre-MinHash pass
    "q63_norm_dedup" -> ((s, dir) =>
      DedupOps.normalizedDedup(documents(s, dir))),

    // --- deterministic stratified sample (oracle-backed): first-n per
    // stratum in portable-hash order; WindowGroupLimit keeps the shuffle
    // O(strata·n)
    "q64_stratified_sample" -> ((s, dir) =>
      ops.CorpusOps.stratifiedSample(documents(s, dir), n = 10)),

    // --- BM25 topical retrieval (oracle-backed): mine the docs relevant to
    // a fixed query out of the corpus — per-term tf fused into the scan,
    // one broadcast single-row stats aggregate, no top-k cut (deterministic
    // full match set)
    "q65_bm25" -> ((s, dir) =>
      TextOps.bm25(documents(s, dir), Seq("spark", "window", "merge"))),

    // --- int8 embedding quantization audit (oracle-backed): per-vector
    // scale, exact code checksum, and worst reconstruction error
    "q66_embed_quantize" -> ((s, dir) =>
      SimilarityOps.quantizeInt8(embeddings(s, dir))),

    // --- REAL sample-level audio decode (rows-only; closed-form spec twin):
    // per-frame RMS + zero-crossing rate over materialized 16-bit PCM —
    // summarized per doc so the row count stays bounded
    "q67_audio_features" -> ((s, dir) =>
      MultimodalOps.audioFrameFeatures(
          MultimodalOps.syntheticAudio(documents(s, dir)), 256)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          round(avg("rms"), 6).as("mean_rms"),
          round(avg("zcr"), 6).as("mean_zcr"))),

    // incremental continuous-aggregate refresh: events with event_id%5=0
    // play the "tonight's new batch" role; the rest are the stored rollup.
    // Output = the upsert set (touched 1h buckets recomputed exactly).
    "q68_incremental_refresh" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
      val tsMs = unix_millis(col("ts").cast("timestamp"))
      val newPts = ev.filter(pmod(col("event_id"), lit(5)) === 0)
        .select(col("user_id").cast("string").as("url"), tsMs.as("ts"), col("value"))
        .as[SeriesPoint]
      val prev = ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
        .groupBy(col("user_id").cast("string").as("url"),
          (tsMs - pmod(tsMs, lit(3600000L))).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum"),
          min("value").as("min"), max("value").as("max"))
      Rollup.incrementalRefresh(prev, newPts, 3600000L)
        .select(col("url").as("user_id"),
          timestamp_millis(col("bucket_start")).cast("timestamp_ntz").as("bucket_start"),
          col("cnt"), round(col("sum"), 6).as("sum_val"),
          round(col("min"), 6).as("min_val"), round(col("max"), 6).as("max_val"),
          round(col("mean"), 6).as("mean_val"))
    }),

    // span-level cross-doc duplication: fraction of each doc's tokens
    // covered by word-8-grams that occur verbatim in >= 2 distinct docs
    "q69_dup_spans" -> ((s, dir) => TextOps.dupSpanStats(documents(s, dir), k = 8)),

    // LTTB-48 downsample of each user's HOURLY MAX series. y = max (not
    // avg) on purpose: max is exact under any partitioning, so the area
    // argmax is bit-stable across engines and the sequential algorithm
    // itself is DuckDB-oracled (q34's golden twin covers the avg flavour
    // on kernel-internal input). Bounded shape: LTTB runs over bucket
    // rows per group, never raw points.
    "q70_lttb_hourly" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(col("user_id").cast("string").as("url"),
          unix_millis(date_trunc("hour", col("ts"))).as("x"))
        .agg(max("value").as("y"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (u, it) =>
          val rows = it.toArray.sortBy(_._2)
          val idx = ops.DownsampleOps.lttbIndices(rows.map(_._2), rows.map(_._3), 48)
          idx.iterator.map(i => (u, rows(i)._2, rows(i)._3))
        }
        .toDF("url", "x", "y")
        .select(col("url").as("user_id"),
          timestamp_millis(col("x")).cast("timestamp_ntz").as("bucket_start"),
          round(col("y"), 6).as("max_val"))
    }),

    // real sample-level BMP pixel decode: per-image channel means + 8x8
    // perceptual average-hash (closed-form spec twin; not SQL-expressible)
    "q71_image_features" -> ((s, dir) =>
      MultimodalOps.imagePixelFeatures(
          MultimodalOps.syntheticImages(documents(s, dir)))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"), col("ahash"))),

    // forecast-residual anomaly flags over the q46 EWMA (same params, so
    // the exact-mirror oracle extends: raw residuals are bit-identical;
    // only the 3-sigma threshold itself carries cross-engine FP risk, at
    // strict-> comparison margins, i.e. measure-zero on continuous data)
    "q72_ewma_anomaly" -> ((s, dir) =>
      ops.AnalyticsOps.forecastAnomalies(
          ops.AnalyticsOps.ewma(events(s, dir), col("user_id"), col("ts"),
            col("event_id"), col("value"), alpha = 0.3, bucketMs = 86400000L),
          "ewma", k = 3.0)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("ts"), col("value"), col("ewma"), col("resid"), col("is_anomaly")))
,
    // --- per-(user, day) OHLC candles (oracle-backed): one hash aggregate;
    // min_by/max_by over a (ts, event_id) struct keep first/last O(1) and
    // total-order deterministic
    "q73_ohlc" -> ((s, dir) =>
      ops.AnalyticsOps.ohlc(events(s, dir),
          col("user_id"), date_trunc("day", col("ts")).as("day"),
          col("ts"), col("event_id"), col("value"))
        .select(col("user_id"), col("day"), col("open"), col("high"),
          col("low"), col("close"), col("cnt"), round(col("vsum"), 6).as("vsum"))),

    // --- cross-signal correlation (oracle-backed): which event types move
    // together, after aligning on hourly buckets — event-sized work is one
    // alignment agg; the corr itself runs on bucket-count rows
    "q74_signal_corr" -> ((s, dir) =>
      ops.AnalyticsOps.pairCorrelation(events(s, dir),
          col("event_type"), date_trunc("hour", col("ts")), col("value"))
        .select(col("series_a"), col("series_b"),
          round(col("r"), 6).as("r"), col("n_buckets"))),

    // --- additive seasonal decomposition (oracle-backed): daily trend +
    // hour-of-day seasonal profile + residual, derived from one pass of
    // (user, day, hour) cells — diurnal shape removed without ever
    // re-scanning or window-sorting the events
    // RAW doubles via the EXACT variant: plain double sums reassociate
    // cross-engine (measured: 9 rows in 10k flip a 6-dp round at the x.5
    // boundaries these short-decimal rationals sit on, and zero residuals
    // come back as ±1e-14), so q75 uses seasonalDecomposeExact — integer
    // cell sums + ordered cell folds — and the oracle mirrors its IEEE op
    // order for bit-identical doubles, like q46/q49/q50
    "q75_seasonal_decomp" -> ((s, dir) =>
      ops.AnalyticsOps.seasonalDecomposeExact(events(s, dir),
          col("user_id"), date_trunc("day", col("ts")), hour(col("ts")),
          col("value"), decimals = 2)
        .select(col("event_id"), col("user_id"), col("trend"),
          col("seasonal"), col("residual")))
,
    // --- ordered product funnel (oracle-backed, exact: min/count integer
    // aggregates only): view -> click -> purchase, each step strictly after
    // the previous step's completion; one user-keyed hash agg per step
    "q76_funnel" -> ((s, dir) =>
      ops.FunnelOps.funnel(events(s, dir), col("user_id"), col("ts"),
          col("event_type"), Seq("view", "click", "purchase"))
        .select(col("user").as("user_id"), col("ts_1"), col("ts_2"),
          col("ts_3"), col("depth"))),

    // --- cohort retention triangle (oracle-backed, exact): users cohorted
    // by first-seen day, counted per day-offset they were active
    "q77_cohort_retention" -> ((s, dir) =>
      ops.FunnelOps.cohortRetention(events(s, dir), col("user_id"),
        col("ts"), 86400000L)),

    // --- burst windows + containment join (oracle-backed, exact): 5-minute
    // buckets with >= 3 events merge into maximal burst intervals
    // (day-partitioned islands); every event inside a burst is annotated
    // via a bucketized EQUI-join — never an inequality join
    "q78_burst_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val bucketMs = 300000L
      val tsMs = unix_millis(col("ts").cast("timestamp"))
      val busy = ev.groupBy(date_trunc("day", col("ts")).as("day"),
          (floor(tsMs / lit(bucketMs)) * lit(bucketMs))
            .cast("long").as("bstart"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 3)
      val ivs = ops.IntervalOps.mergeIntervals(busy, col("day"),
        col("bstart"), bucketMs)
      ops.IntervalOps.rangeJoin(ev, tsMs, ivs,
          col("start_ms"), col("end_ms"), bucketMs)
        .select(col("event_id"), col("user_id"), col("start_ms"),
          col("end_ms"), col("n_buckets"))
    }),

    // --- time-weighted average gauge rollup (oracle-backed, exact: the
    // weighted sum is DECIMAL·ms integer arithmetic, the division one
    // double op over bit-identical operands)
    "q79_twa" -> ((s, dir) =>
      ops.AnalyticsOps.timeWeightedAvg(events(s, dir), col("user_id"),
          date_trunc("day", col("ts")), col("ts"), col("event_id"),
          col("value"))
        .select(col("key").as("user_id"), col("bucket").as("day"),
          col("twa"), col("span_ms"), col("n"))),

    // --- PromQL-style counter increase with reset detection (oracle-backed,
    // exact: DECIMAL sums): treating `value` as a restarting counter, the
    // per-(user, day) growth + restart count
    "q80_counter_increase" -> ((s, dir) =>
      ops.AnalyticsOps.counterIncrease(events(s, dir), col("user_id"),
          date_trunc("day", col("ts")), col("ts"), col("event_id"),
          col("value"))
        .select(col("key").as("user_id"), col("bucket").as("day"),
          col("increase").cast("double").as("increase"), col("resets"),
          col("n")))
,
    // --- real-time continuous-aggregate read (oracle-backed, exact): the
    // stored hourly rollup serves history, only the last 7 days of raw
    // events are aggregated at read time — and the ORACLE is a full
    // recompute, so the green row IS the proof the split loses nothing.
    // The 1-row max-ts collect stands in for refresh metadata (aggregate-
    // sized, same license as the IVF centroid collects).
    "q81_realtime_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      val bucketMs = 3600000L
      val tsMs = unix_millis(col("ts").cast("timestamp"))
      val maxTs = ev.agg(max(tsMs)).head().getLong(0)
      val wm = ((maxTs - 7L * 86400000L) / bucketMs) * bucketMs
      val stored = ev.filter(tsMs < wm)
        .groupBy(col("user_id").as("key"),
          (floor(tsMs / lit(bucketMs)) * lit(bucketMs)).cast("long")
            .as("bucket_start"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(12,2)")).as("vsum"))
      pipeline.Rollup.realtimeRead(stored, ev, col("user_id"), col("ts"),
          col("value"), bucketMs, wm)
        .select(col("key").as("user_id"), col("bucket_start"), col("cnt"),
          col("vsum").cast("double").as("vsum"))
    }),

    // --- two-threshold hysteresis alerting (oracle-backed, exact): alert
    // episodes over the hourly mean — fires at 120, clears at 60, the dead
    // band never flaps. Decimal-exact hourly means; integer state machine.
    "q82_hysteresis_alerts" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("user_id"),
          unix_millis(date_trunc("hour", col("ts")).cast("timestamp"))
            .as("bucket_ms"))
        .agg((sum(col("value").cast("decimal(12,2)")).cast("double")
          / count(lit(1))).as("mean"))
      ops.AnalyticsOps.hysteresisAlerts(hourly, col("user_id"),
          col("bucket_ms"), col("mean"), hi = 120.0, lo = 60.0)
        .select(col("key").as("user_id"), col("ep_start"), col("ep_end"),
          col("n_buckets"), col("peak"))
    }),

    // --- availability / telemetry-coverage report (oracle-backed, exact):
    // per (user, day), observed vs expected 1m buckets + longest silent gap
    "q83_availability" -> ((s, dir) => {
      val pts = events(s, dir).select(col("user_id"),
        date_trunc("day", col("ts")).as("day"),
        unix_millis(date_trunc("minute", col("ts")).cast("timestamp")).as("b"))
      ops.AnalyticsOps.availability(pts, col("user_id"), col("day"),
          col("b"), 60000L)
        .select(col("key").as("user_id"), col("day"), col("observed"),
          col("expected"), col("missing"), col("longest_gap_ms"))
    }),

    // --- calendar-baseline anomaly score (oracle-backed, exact): each
    // hourly mean vs the trailing mean of the SAME hour-of-day on prior
    // days — the seasonal-naive "is today out of line?" query
    "q84_calendar_baseline" -> ((s, dir) =>
      ops.AnalyticsOps.calendarBaseline(events(s, dir), col("user_id"),
          col("ts"), col("value"))
        .select(col("key").as("user_id"), col("bucket"), col("n"),
          col("mean"), col("baseline"), col("ratio"))),

    // --- global top-20 day-over-day movers (oracle-backed, exact decimal;
    // TakeOrderedAndProject, never a global sort)
    "q85_top_movers" -> ((s, dir) =>
      ops.AnalyticsOps.topMovers(events(s, dir), col("user_id"),
          date_trunc("day", col("ts")), col("value"), 20)
        .select(col("key").as("user_id"), col("day"),
          col("total").cast("double").as("total"),
          col("prev_total").cast("double").as("prev_total"),
          col("change").cast("double").as("change"))),

    // --- PAA + quantile-SAX symbolic words (oracle-backed, exact): per
    // (user, day), 24 hourly PAA means rank-discretized to an a-d alphabet
    "q86_sax_words" -> ((s, dir) =>
      ops.DownsampleOps.quantileSax(events(s, dir), col("user_id"),
          date_trunc("day", col("ts")), hour(col("ts")), col("value"))
        .select(col("key").as("user_id"), col("frame").as("day"),
          col("word"), col("n_slots"))),

    // --- multi-window SLO burn rate (oracle-backed, exact): error-budget
    // burn over the current hour AND the trailing 6h; alert only when both
    // burn above 1.0 (sustained + still happening). The shipped burn
    // columns are rounded to 6 dp on BOTH sides (q95/q09 precedent) so a
    // driver-side engine-version FP wobble can't flip the hash; `alert` is
    // computed by the op from the UNROUNDED ratios.
    "q87_slo_burn" -> ((s, dir) =>
      ops.AnalyticsOps.sloBurnRate(events(s, dir), col("user_id"),
          col("ts"), col("event_type") === "error", budget = 0.25,
          shortMs = 3600000L, longMs = 6L * 3600000L, threshold = 1.0)
        .select(col("key").as("user_id"), col("bucket"), col("err"),
          col("tot"), round(col("burn_short"), 6).as("burn_short"),
          round(col("burn_long"), 6).as("burn_long"), col("alert"))),

    // --- matrix-profile discord discovery (rows-only; kernel parity vs an
    // independent brute force in DiscordSpec): per url, the most anomalous
    // w=20-bucket pattern of the 1m mean series, by largest raw 1-NN
    // z-normed distance. Two-phase like q28: the O(n²) kNN kernel runs per
    // BOUNDED (url, chunk) frame and a hash aggregate merges per url — an
    // anomaly straddling a frame edge can rank < w buckets low, the stated
    // bounded-memory contract (same license as q28's chunked segmentation).
    "q88_discords" -> ((s, dir) => {
      import s.implicits._
      val nUrls = synthScale(dir, 12, 32, 96)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 600)
      val w = 20
      val chunkMs = 60000L * Rollup.MegaSeriesBuckets
      val perChunk =
        Rollup.scalableRollup(CrawlSignals.pageSize(pages), 60000L, "1m",
            segment = false)
          .groupByKey(r => (r.url, Math.floorDiv(r.bucket_start, chunkMs)))
          .mapGroups { (key: (String, Long), it: Iterator[pipeline.RollupRow]) =>
            val rows = it.toArray.sortBy(_.bucket_start)
            // one row per chunk UNCONDITIONALLY (the q28 contract): a chunk
            // too short for a discord (< 2w) still contributes its bucket
            // count, with a null discord that the merge's max/lastByOrd
            // ignore — so no url ever vanishes from the result
            graft.kernel.Discord.discords(rows.map(_.mean), w, top = 1)
              .headOption match {
                case Some((idx, dist)) =>
                  (key._1, rows.length.toLong,
                    Option(rows(idx).bucket_start), Option(dist))
                case None =>
                  (key._1, rows.length.toLong, None: Option[Long],
                    None: Option[Double])
              }
          }
      perChunk.toDF("url", "n_buckets", "bucket", "dist")
        .groupBy("url")
        .agg(sum("n_buckets").as("n_buckets"),
          // argmax by (dist, -bucket): flat-buffer ordered aggregate keeps
          // the merge in HashAggregateExec (a struct max_by would degrade
          // the whole agg to SortAggregate)
          graft.functions.OrderedAggregates.lastByOrd(col("bucket"),
            col("dist"), -col("bucket")).as("discord_bucket"),
          round(max("dist"), 6).as("nn_dist"))
        .select(col("url").as("user_id"), col("n_buckets"),
          col("discord_bucket"), col("nn_dist"))
    }),

    // --- DAMPED-trend Holt (oracle-backed, exact FP mirror): Gardner &
    // McKenzie phi = 0.9 — the trend decays geometrically, the industry
    // default for multi-step forecasts. Same segmented scan as q49 (the
    // damping only reweights the affine map), mirror generated from the
    // same template.
    "q89_damped_holt" -> ((s, dir) =>
      ops.AnalyticsOps.holt(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          alpha = 0.3, betaT = 0.1, bucketMs = 86400000L, phi = 0.9)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("ts"), col("value"), col("level"), col("trend"), col("forecast"))),

    // --- DTW series search (rows-only; DtwSpec pins the banded DP against
    // an independent full-matrix DP): the 10 users whose z-normalized
    // hourly-mean profile warps closest to the lowest-id user's, with a
    // Sakoe-Chiba band of 24 hours. Scale shape: hourly profiles are
    // calendar-bounded per key (a year of hours = 8.8k rows — never raw
    // events), the query profile is ONE user's collect (aggregate-sized,
    // the IVF-centroid license) broadcast in the closure, each DTW is an
    // O(n*band) map-side task after one hash shuffle, and the global
    // top-10 compiles to TakeOrderedAndProject.
    "q90_dtw_search" -> ((s, dir) => {
      import s.implicits._
      // the min-id lookup, the query-profile collect and the scoring share it
      val hourly = ops.Adaptive.materialize(events(s, dir)
        .groupBy(col("user_id"),
          unix_millis(date_trunc("hour", col("ts")).cast("timestamp")).as("b"))
        .agg((sum(col("value").cast("decimal(12,2)")).cast("double")
          / count(lit(1))).as("m")))
        .as[(Long, Long, Double)]
      val qUser = hourly.toDF().agg(min("user_id")).head().getLong(0)
      val query = graft.kernel.Dtw.znorm(
        hourly.filter(_._1 == qUser).collect().sortBy(_._2).map(_._3))
      hourly
        .groupByKey(_._1)
        .mapGroups { (u, it) =>
          val prof = it.toArray.sortBy(_._2).map(_._3)
          (u, prof.length.toLong,
            graft.kernel.Dtw.dtw(query, graft.kernel.Dtw.znorm(prof), 24))
        }
        .toDF("user_id", "n_buckets", "dist")
        .filter(col("user_id") =!= qUser)
        .orderBy(col("dist"), col("user_id")).limit(10)
        .select(col("user_id"), col("n_buckets"),
          round(col("dist"), 6).as("dtw_dist"))
    }),

    // --- per-series period detection (rows-only; the three estimators are
    // golden-tested against the reference's window_size.py corpus-wide):
    // dominant FFT period, highest-autocorrelation lag, and SuSS window of
    // each url's 1m mean series — the "what cadence does this series
    // have?" query a TSDB runs before choosing rollup resolutions. Same
    // calendar-bounded per-key group walk as q90 (bucket rows, not raw
    // events), one hash shuffle, kernel work O(n log n) per url.
    "q91_period_detect" -> ((s, dir) => {
      import s.implicits._
      val nUrls = synthScale(dir, 12, 32, 96)
      val pages = SyntheticCrawl.pagesDF(s, nUrls = nUrls, basePoints = 600)
      Rollup.scalableRollup(CrawlSignals.pageSize(pages), 60000L, "1m",
          segment = false)
        .groupByKey(_.url)
        .mapGroups { (url, it) =>
          val means = it.toArray.sortBy(_.bucket_start).map(_.mean)
          val ub = math.min(1000, means.length / 2)
          (url, means.length.toLong,
            graft.kernel.WindowSize.dominantFourierFrequency(means, 10, ub),
            graft.kernel.WindowSize.highestAutocorrelation(means, 10, ub),
            graft.kernel.WindowSize.suss(means))
        }
        .toDF("user_id", "n_buckets", "fft_period", "acf_period", "suss_window")
    }),

    // --- tiered read (oracle-backed, exact): every row served at the
    // resolution its age earns — 1m for the last 7 days, 1h to 14 days,
    // 1d beyond — in ONE pass (map-side CASE tier/bucket + a single hash
    // aggregate; no per-tier rescan). The retention policy's query-side
    // complement; anchor is the pruned max-ts collect (q81 license).
    "q92_tiered_read" -> ((s, dir) => {
      val ev = events(s, dir)
      val anchor = ev.agg(max(unix_millis(col("ts").cast("timestamp"))))
        .head().getLong(0)
      ops.RetentionOps.tieredRead(ev, col("user_id"), col("ts"),
          col("value"), anchor, 7L * 86400000L, 14L * 86400000L)
        .select(col("key").as("user_id"), col("tier"), col("bucket_start"),
          col("cnt"), col("vsum").cast("double").as("vsum"))
    }),

    // --- interval OVERLAP join (oracle-backed, exact integers): which
    // error-burst windows overlapped purchase-burst windows — incident
    // correlation. Both interval sets come from 5m busy-bucket islands;
    // the overlap join is bucket-exploded + equi-joined, each pair emitted
    // exactly once via the canonical-bucket filter (never an inequality
    // join, never a distinct).
    "q93_overlap_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val bucketMs = 300000L
      val tsMs = unix_millis(col("ts").cast("timestamp"))
      def bursts(tpe: String) = ops.IntervalOps.mergeIntervals(
        ev.filter(col("event_type") === tpe)
          .groupBy(date_trunc("day", col("ts")).as("day"),
            (floor(tsMs / lit(bucketMs)) * lit(bucketMs)).cast("long")
              .as("bstart"))
          .agg(count(lit(1)).as("cnt")),
        col("day"), col("bstart"), bucketMs)
      val err = bursts("error")
        .select(col("start_ms").as("err_start"), col("end_ms").as("err_end"))
      val pur = bursts("purchase")
        .select(col("start_ms").as("pur_start"), col("end_ms").as("pur_end"))
      ops.IntervalOps.overlapJoin(err, col("err_start"), col("err_end"),
          pur, col("pur_start"), col("pur_end"), bucketMs)
        .select(col("err_start"), col("err_end"), col("pur_start"),
          col("pur_end"),
          (least(col("err_end"), col("pur_end"))
            - greatest(col("err_start"), col("pur_start"))).as("overlap_ms"))
    }),

    // --- daily session metrics (oracle-backed, exact: integer durations,
    // ratio doubles over bit-identical ints): sessions from the q38 gap
    // rule rolled into per-day count/duration/bounce-rate — the product
    // dashboard query over the sessionizer's output. Two hash aggregates
    // on top of one keyed window pass.
    "q94_session_stats" -> ((s, dir) => {
      val tsMs = unix_millis(col("ts").cast("timestamp"))
      val sess = ops.SessionOps.sessionize(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), 1800000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(tsMs).as("s_start"),
          (max(tsMs) - min(tsMs)).as("dur"),
          count(lit(1)).as("n_events"))
      sess
        .groupBy((floor(col("s_start") / lit(86400000L)) * lit(86400000L))
          .cast("long").as("day_ms"))
        .agg(count(lit(1)).as("n_sessions"),
          (sum("dur").cast("double") / count(lit(1))).as("avg_duration_ms"),
          max("dur").as("max_duration_ms"),
          (sum("n_events").cast("double") / count(lit(1))).as("avg_events"),
          (sum(when(col("n_events") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1))).as("bounce_rate"))
    }),

    // --- lagged cross-correlation sweep (oracle-backed; corr agrees at
    // 6 dp cross-engine, the q74 precedent): does purchase volume trail
    // view volume, and by how many hours? Correlation of the two hourly
    // decimal-sum series at every lag in [-3, +3] — the lag with max r is
    // the lead/lag estimate. Shape: two bucket-count aggregates, a 7x
    // explode on the small side, equi-join per lag, hash agg per lag.
    "q95_lag_correlation" -> ((s, dir) => {
      val ev = events(s, dir)
      val tsMs = unix_millis(col("ts").cast("timestamp"))
      def hourly(tpe: String, vc: String) = ev
        .filter(col("event_type") === tpe)
        .groupBy((floor(tsMs / lit(3600000L)) * lit(3600000L)).cast("long")
          .as("b"))
        .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as(vc))
      val v = hourly("view", "x")
      val p = hourly("purchase", "y")
      val lagged = v.withColumn("lag", explode(sequence(lit(-3L), lit(3L))))
        .withColumn("b2", col("b") + col("lag") * lit(3600000L))
      lagged.join(p, lagged("b2") === p("b"))
        .groupBy("lag")
        .agg(round(corr(col("x"), col("y")), 6).as("r"),
          count(lit(1)).as("n"))
    }),

    // --- day-over-day distribution drift (oracle-backed, exact): total
    // variation distance between each (event_type, day)'s value histogram
    // and the previous day's — the drift monitor a training-data pipeline
    // runs per snapshot. TV over KL deliberately: the cross-bin sum has an
    // INTEGER numerator, so it cannot FP-reassociate; one double division
    // at the end.
    "q96_histogram_drift" -> ((s, dir) =>
      ops.AnalyticsOps.histogramDrift(events(s, dir), col("event_type"),
          unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
          86400000L, col("value"), binWidth = 25.0)
        .select(col("key").as("event_type"), col("period").as("day_ms"),
          col("n"), col("m"), col("tvd"))),

    // --- Gorilla round-trip THROUGH THE WIRE (oracle-backed, exact): the
    // hourly mean rollup is Gorilla-encoded per (user, day) blob, decoded,
    // and emitted — while the ORACLE recomputes the rollup from raw events
    // in plain SQL. Hash equality proves the delta-of-delta + XOR codec
    // bit-lossless on real data, not just in the round-trip spec. Blobs
    // are day-bounded (<= 24 points); one hash shuffle.
    "q97_gorilla_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val hourly = events(s, dir)
        .groupBy(col("user_id"),
          (floor(unix_millis(col("ts").cast("timestamp")) / lit(3600000L))
            * lit(3600000L)).cast("long").as("b"))
        .agg((sum(col("value").cast("decimal(12,2)")).cast("double")
          / count(lit(1))).as("m"))
        .as[(Long, Long, Double)]
      hourly
        .groupByKey(r => (r._1, Math.floorDiv(r._2, 86400000L)))
        .flatMapGroups { (k: (Long, Long), it: Iterator[(Long, Long, Double)]) =>
          val rows = it.toArray.sortBy(_._2)
          val blob = graft.kernel.Gorilla.encode(rows.map(_._2), rows.map(_._3))
          val (ts, vs) = graft.kernel.Gorilla.decode(blob)
          ts.iterator.zip(vs.iterator).map { case (b, m) => (k._1, b, m) }
        }
        .toDF("user_id", "bucket_ms", "mean")
    }),

    // --- transparent continuous-aggregate REWRITE (oracle-backed, exact):
    // the hour-aligned aggregate over RAW events is rewritten by the
    // Catalyst rule to re-aggregate a STORED rollup instead (TimescaleDB's
    // materialized read path) — while the ORACLE recomputes from raw
    // events, so the hash match proves the rewritten plan answers the
    // original question exactly. The rule is applied to this one query's
    // plan via Bridge.ofRows (no session-global optimizer state); the
    // require() fails loudly if the rewrite ever stops firing.
    "q98_rollup_rewrite" -> ((s, dir) => {
      def hourAgg(df: DataFrame) = df
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(12,2)")).as("vsum"))
      val storePath = s"/tmp/graft_q98_rollup_${math.abs(dir.hashCode)}"
      hourAgg(events(s, dir))
        .withColumnRenamed("bucket", "bucket_start")
        .coalesce(storeFiles(dir))
        .write.mode("overwrite").parquet(storePath)
      val stored = s.read.parquet(storePath)
      plans.RollupRewrite.servedFrom(s, "events.parquet", stored,
          hourAgg(events(s, dir)))
        .select(col("user_id"), col("bucket"), col("cnt"),
          col("vsum").cast("double").as("vsum"))
    }),

    // --- FORWARD as-of enrichment (oracle-backed vs DuckDB's native
    // forward ASOF JOIN): every event tagged with the user's NEXT purchase
    // at-or-after its timestamp — the back-fill twin of q32.
    "q99_asof_forward" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts")
      val purchases = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("value").as("next_purchase"))
      ops.AsofOps.asofForward(ev, purchases, "user_id", "ts",
          Seq("next_purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("next_purchase"), 6).as("next_purchase"))
    }),

    // --- CAPSTONE: the complete continuous-aggregate LIFECYCLE as one
    // oracled row (oracle = a full recompute from raw events, so the hash
    // match proves the whole loop lossless): night-1 batch builds the
    // store; night-2 arrives as an O(delta) UPSERT set (touched buckets
    // only — join + decimal partial adds, never a night-1 rescan) merged
    // via mergeUpserts; the materialized store is then SERVED through the
    // Catalyst continuous-aggregate rewrite, min/max included.
    "q100_ca_lifecycle" -> ((s, dir) => {
      val ev = events(s, dir)
      // ONE parity-keyed hour aggregate feeds both lifecycle halves: the
      // upsert join and mergeUpserts' two upsert references share it. The
      // parity aggregate is exact under regrouping (long counts, decimal
      // sums, min/max) and (user × hour × 2)-sized, so stored1/delta are
      // free filters. Values are bit-identical (q100 oracle hash-pinned).
      val parts = ops.Adaptive.materialize(ev
        .groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("bucket_start"),
          pmod(col("event_id"), lit(2)).as("par"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(12,2)")).as("vsum"),
          min("value").as("vmin"), max("value").as("vmax"))
        // repartition on the UPSERT JOIN's key before materializing: the
        // aggregate's (user, bucket, par) partitioning would not satisfy
        // the joins on (user, bucket), forcing them to re-exchange both
        // sides; materialize keeps this partitioning, so the upsert join
        // and mergeUpserts' anti-join run exchange-free
        .repartition(col("user_id"), col("bucket_start")))
      val stored1 = parts.filter(col("par") === 0).drop("par")
      val delta = parts.filter(col("par") === 1).drop("par")
      val upserts = delta.as("d")
        .join(stored1.as("p"), Seq("user_id", "bucket_start"), "left")
        .select(col("user_id"), col("bucket_start"),
          (col("d.cnt") + coalesce(col("p.cnt"), lit(0L))).as("cnt"),
          (col("d.vsum") + coalesce(col("p.vsum"),
            lit(0).cast("decimal(12,2)"))).cast("decimal(22,2)").as("vsum"),
          least(col("d.vmin"), coalesce(col("p.vmin"), col("d.vmin")))
            .as("vmin"),
          greatest(col("d.vmax"), coalesce(col("p.vmax"), col("d.vmax")))
            .as("vmax"))
      val stored = Rollup.mergeUpserts(stored1, upserts,
        Seq("user_id", "bucket_start"))
      val path = s"/tmp/graft_q100_store_${math.abs(dir.hashCode)}"
      stored.coalesce(storeFiles(dir)).write.mode("overwrite").parquet(path)
      val storeDf = s.read.parquet(path)
      val q = ev.groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(12,2)")).as("vsum"),
          min("value").as("vmin"), max("value").as("vmax"))
      plans.RollupRewrite.servedFrom(s, "events.parquet", storeDf, q)
        .select(col("user_id"), col("bucket"), col("cnt"),
          col("vsum").cast("double").as("vsum"), col("vmin"), col("vmax"))
    }),

    // --- nearest-observation gap fill (oracle-backed, exact: the fill
    // COPIES decimal-exact hourly means and tie-breaks on integer ms
    // distances — no arithmetic, no rounding): completes the
    // locf (q04/q30) / linear (q36) interpolation family
    "q101_gapfill_nearest" -> ((s, dir) => {
      val agg = events(s, dir)
        .groupBy(col("user_id").cast("string").as("key"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg((sum(col("value").cast("decimal(12,2)")).cast("double")
          / count(lit(1))).as("mean"))
      Rollup.gapFillNearest(agg, 3600L)
    }),

    // --- distributed CUSUM drift detector (oracle-backed, EXACT: the
    // tropical (max, +) segmented scan runs in integer cents, so unlike
    // the FP-mirror smoothers the oracle is the plain sequential
    // recurrence — reassociation cannot exist in a semiring whose ops are
    // exact): Page's classic SPC statistic, s = max(0, s + x − k),
    // alarm above h. k = 60 sits above the mean (~49.6) so in-control
    // stretches clamp to 0; h = 250 fires on sustained high-value runs.
    "q102_cusum" -> ((s, dir) =>
      ops.AnalyticsOps.cusum(events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          k = 60.0, h = 250.0, bucketMs = 86400000L)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("ts"), col("value"), col("cusum"), col("alarm")))
  ) ++ Map[String, (SparkSession, String) => DataFrame](

    // --- SAX motif pairing (oracle-backed, exact: SAX words are integer
    // order statistics, the pairing is an equi-join with a deterministic
    // bucket cap): series whose daily frames discretize to the same
    // symbolic word — the symbolic analogue of the MinHash band join,
    // and the standard cheap motif prefilter
    "q103_sax_motifs" -> ((s, dir) => {
      val words = ops.DownsampleOps.quantileSax(events(s, dir),
        col("user_id"), date_trunc("day", col("ts")), hour(col("ts")),
        col("value"))
      ops.DownsampleOps.saxMotifPairs(words, maxBucket = 50)
        .select(col("frame").as("day"), col("word"),
          col("url_a"), col("url_b"))
    }),

    // --- continuous-aggregate rewrite serving AVG (oracle-backed, exact:
    // the oracle recomputes the mean from raw events in exact integer
    // arithmetic — round-half-up((2·sum·10^4 + n) / (2n)) at scale 6, the
    // precise value Spark's decimal Average produces — so the hash match
    // proves the rewritten avg read path is bit-exact, not approximately
    // right). Complements q98 (count/sum) and q100 (min/max).
    "q104_rewrite_avg" -> ((s, dir) => {
      val ev = events(s, dir)
      val storePath = s"/tmp/graft_q104_rollup_${math.abs(dir.hashCode)}"
      ev.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(12,2)")).as("vsum"))
        .coalesce(storeFiles(dir))
        .write.mode("overwrite").parquet(storePath)
      val stored = s.read.parquet(storePath)
      val q = ev.groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          avg(col("value").cast("decimal(12,2)")).as("avg_v"))
      plans.RollupRewrite.servedFrom(s, "events.parquet", stored, q)
        .select(col("user_id"), col("bucket"), col("cnt"),
          col("avg_v").cast("double").as("avg_v"))
    }),

    // --- robust median/MAD outliers (oracle-backed, exact: lower medians
    // are rank-selected order statistics in integer cents — no FP
    // mean/variance, no interpolation): the outlier rule that survives
    // its own outliers, complementing q42's z-score
    "q105_mad_outliers" -> ((s, dir) =>
      ops.AnalyticsOps.madOutliers(events(s, dir),
          col("user_id"), date_trunc("day", col("ts")), col("event_id"),
          col("value"), k = 3.0)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("bucket").as("day"), col("value"), col("median"), col("mad"),
          col("is_outlier"))),

    // --- trailing 7-day distinct actives (oracle-backed, exact integer):
    // the WAU query — sliding DISTINCT via the bounded day fan-out of the
    // deduplicated (user, day) table; q45's HLL sketches are the
    // approximate at-scale twin
    "q106_rolling_actives" -> ((s, dir) =>
      ops.AnalyticsOps.rollingActives(events(s, dir),
        col("user_id"), col("ts"), windowDays = 7)),

    // --- Mann-Kendall trend test + Sen's slope (oracle-backed, exact):
    // per-user daily DECIMAL sums (exact under any partitioning) tested
    // for monotone trend — S, tie-corrected variance, and every pairwise
    // sign are integer-cents exact; z and the slope doubles follow a
    // fixed op order the mirror reproduces bit-for-bit
    "q107_mann_kendall" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("dsum"))
      ops.AnalyticsOps.mannKendall(daily,
          col("user_id"), col("day"), col("dsum"), slopeUnitMs = 86400000L)
        .select(col("key").as("user_id"), col("n"), col("s"), col("var_s"),
          col("z"), col("trend"), col("sen_slope"))
    }),

    // --- Seasonal Mann-Kendall (Hirsch-Slack): same exactness story as
    // q107, but hourly sums compared only within the same hour-of-day —
    // the diurnal cycle can't fake a trend. Slope per day = per cycle.
    "q108_seasonal_mk" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hb"))
        .agg(sum(col("value").cast("decimal(12,2)")).as("hsum"))
      ops.AnalyticsOps.seasonalMannKendall(hourly,
          col("user_id"), col("hb"), col("hsum"),
          hour(col("hb")), slopeUnitMs = 86400000L)
        .select(col("key").as("user_id"), col("n"), col("s"), col("var_s"),
          col("z"), col("trend"), col("sen_slope"))
    }),

    // --- histogram_quantile (Prometheus) served from the q43 distribution
    // tier: p50/p90/p99 per (user, day) computed ENTIRELY from the stored
    // bin counts — rollup-sized input, linear interpolation inside the
    // picked bin, exact FP mirror (fixed op order over integer counts)
    "q109_hist_quantile" -> ((s, dir) => {
      val hist = ops.AnalyticsOps.histogram(events(s, dir),
        col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("value"), 10.0)
      ops.AnalyticsOps.histogramQuantile(hist,
          col("user_id"), col("day"), col("bin"), col("cnt"),
          10.0, Seq(0.5, 0.9, 0.99))
        .select(col("key").as("user_id"), col("bucket").as("day"),
          col("q"), col("est"))
    }),

    // --- change-only (LOCF) compression of a level gauge (floor(value/25)
    // steps): each run of consecutive identical readings per user keeps
    // only its first row + run_len — the write-path dedup of a tiered
    // gauge store, lossless under locf replay. Exact: integer levels,
    // integer run lengths.
    "q110_change_compress" -> ((s, dir) =>
      ops.AnalyticsOps.changeCompress(
          events(s, dir).withColumn("level", floor(col("value") / 25.0)),
          col("user_id"), col("ts"), col("event_id"), col("level"))
        .select(col("key").as("user_id"),
          timestamp_millis(col("ts")).cast("timestamp_ntz").as("ts"),
          col("tie").as("event_id"), col("value").cast("long").as("level"),
          col("run_len"))),

    // --- forecast-accuracy rollup (MAE / bias / MASE, Hyndman-Koehler):
    // seasonal-naive hourly forecast scored per user — decimal-exact error
    // sums, three fixed-order double divisions at the end
    "q111_forecast_accuracy" -> ((s, dir) =>
      ops.AnalyticsOps.forecastAccuracy(events(s, dir),
          col("user_id"), col("ts"), col("value"))
        .select(col("key").as("user_id"), col("n_fc"), col("mae"),
          col("bias"), col("mase"))),

    // --- per-series staleness / heartbeat report (oracle-backed, exact
    // integers; one double division): Prometheus `absent_over_time` as a
    // batch rollup. Anchor = corpus max(ts) from a column-pruned scan,
    // broadcast 1-row — the q37 pruned-anchor discipline.
    "q112_staleness" -> ((s, dir) => {
      val anchor = events(s, dir)
        .agg(max(unix_millis(col("ts").cast("timestamp"))).as("anchor_ms"))
      ops.AnalyticsOps.staleness(events(s, dir), col("user_id"), col("ts"),
          anchor, thresholdMs = 6L * 3600000L)
        .select(col("key").as("user_id"), col("n"), col("last_ts_ms"),
          col("age_ms"), col("stale"), col("mean_interval_ms"))
    }),

    // --- series-lifecycle churn (oracle-backed, exact): per day, active /
    // born / retired series counts — the TSDB cardinality-management
    // rollup. Retirement is right-censored at the corpus edge.
    "q113_series_churn" -> ((s, dir) =>
      ops.AnalyticsOps.seriesChurn(events(s, dir), col("user_id"), col("ts"))
        .select(col("day"), col("active"), col("born"), col("retired"))),

    // --- Apdex rollup (oracle-backed; integer counts + one fixed-order
    // double): satisfied ≤ 50, tolerating ≤ 200, per (user, day)
    "q114_apdex" -> ((s, dir) =>
      ops.AnalyticsOps.apdex(events(s, dir),
          col("user_id"), date_trunc("day", col("ts")), col("value"), t = 50.0)
        .select(col("key").as("user_id"), col("bucket").as("day"),
          col("satisfied"), col("tolerating"), col("frustrated"),
          col("total"), col("apdex"))),

    // --- trailing-7-day actives from MERGEABLE per-day HLL sketches
    // (rows-only; AnalyticsOpsSpec bounds it against exact q106): the
    // at-scale WAU path — the day-count-sized sketch tier is what a store
    // persists; the window is a blob merge, never an event re-read
    "q117_wau_sketch" -> ((s, dir) =>
      ops.AnalyticsOps.rollingActivesSketch(events(s, dir),
        col("user_id"), col("ts"), windowDays = 7)),

    // --- PSI drift (oracle-backed): the ML-monitoring Population
    // Stability Index next to q96's TVD — integer cells, fixed-order
    // per-bin fold so the transcendental sum mirrors bit-for-bit
    "q116_psi_drift" -> ((s, dir) =>
      ops.AnalyticsOps.psiDrift(events(s, dir), col("event_type"),
          unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
          86400000L, col("value"), binWidth = 25.0)
        .select(col("key").as("event_type"), col("period").as("day_ms"),
          col("n"), col("m"), col("psi"))),

    // --- benchmark decontamination (oracle-backed): eval-set 8-gram
    // overlap per train doc — docs with doc_id % 97 == 0 stand in for the
    // held-out benchmark. Integer gram counts; one round(,6) ratio (the
    // q69 dup_frac risk profile).
    "q115_decontamination" -> ((s, dir) =>
      TextOps.decontaminate(documents(s, dir),
        pmod(col("doc_id"), lit(97)) === 0, k = 8)),

    // --- n-gram LM perplexity scoring (oracle-backed): the CCNet quality
    // filter — a self-trained add-α bigram model scores every doc's
    // cross-entropy/perplexity; exact integer counts, fixed-order ln fold
    // (the q116 discipline)
    "q118_lm_perplexity" -> ((s, dir) =>
      TextOps.lmScore(documents(s, dir))),

    // --- day-over-day audience overlap (oracle-backed, exact): distinct
    // users retained / new / churned per event_type with Jaccard — the
    // growth-dashboard set algebra, one DISTINCT pass + member-keyed join
    "q119_audience_overlap" -> ((s, dir) =>
      ops.AnalyticsOps.distinctOverlap(events(s, dir), col("event_type"),
          col("ts"), col("user_id"), 86400000L)
        .select(col("key").as("event_type"), col("period").as("day_ms"),
          col("curr_n"), col("prev_n"), col("retained"), col("union_n"),
          col("new_n"), col("churned_n"), col("jaccard"))),

    // --- sketch-tier audience overlap (rows-only; AnalyticsOpsSpec bounds
    // it against exact q119): consecutive-day retained/Jaccard estimates
    // from mergeable HLL blobs by inclusion–exclusion — no member-keyed
    // join anywhere, the at-scale path
    "q120_overlap_sketch" -> ((s, dir) =>
      ops.AnalyticsOps.distinctOverlapSketch(events(s, dir),
        col("event_type"), col("ts"), col("user_id"), 86400000L)),

    // --- weighted stratified sample (oracle-backed): Efraimidis–Spirakis
    // keys from the portable hash, weight = n_chars (longer docs sample
    // more often) — q64's unweighted cousin, same WindowGroupLimit shape
    "q121_weighted_sample" -> ((s, dir) =>
      ops.CorpusOps.weightedSample(documents(s, dir), col("n_chars"), n = 10)),

    // --- theta-sketch audience overlap (ORACLE-BACKED against the exact
    // set algebra): retained/new/churned from real sketch set operators
    // (∩, ∖) via Spark's theta_sketch_agg — the algebra HLL
    // inclusion–exclusion can't give. The oracle is exact SQL, valid
    // because every (event_type, day) audience in the testdata sits far
    // below 2^lgK=4096, where a theta sketch retains EVERY hash and its
    // estimates are exact counts (the q55 LSH-vs-exact-closure license;
    // max observed set: 67 at sf0.01, 587 at sf0.1 — re-check if the
    // generator changes). AnalyticsOpsSpec additionally pins theta ≡
    // exact row-for-row and repartition determinism.
    "q122_theta_overlap" -> ((s, dir) =>
      ops.AnalyticsOps.distinctOverlapTheta(events(s, dir),
        col("event_type"), col("ts"), col("user_id"), 86400000L)),

    // --- OLS linear trend per series (oracle-backed, EXACT): slope /
    // intercept / r² of value against hours-since-anchor — the parametric
    // companion to q107's rank-based Mann-Kendall. All sufficient
    // statistics are exact integer sums (x = hour index, y = cents), so
    // raw doubles mirror bit-for-bit; one hash agg, no window, no join.
    "q123_linear_trend" -> ((s, dir) =>
      ops.AnalyticsOps.linearTrend(events(s, dir), col("user_id"),
          floor((unix_millis(col("ts").cast("timestamp"))
            - lit(AnchorMs)) / lit(3600000.0)),
          col("value"), decimals = 2)
        .select(col("key").as("user_id"), col("n"), col("slope"),
          col("intercept"), col("r2"))),

    // --- lead-lag cross-correlation (oracle-backed): CCF between
    // event-type series over hourly buckets at lags -3..+3 — q74's lag-0
    // answer extended to "which signal LEADS which". Event-sized work is
    // one alignment agg (exact integer-cents means); the lag fan-out and
    // corr run on bucket-count rows.
    "q124_cross_corr" -> ((s, dir) => {
      val hourIdx = floor((unix_millis(col("ts").cast("timestamp"))
        - lit(AnchorMs)) / lit(3600000.0)).cast("long")
      val cents = events(s, dir)
        .groupBy(col("event_type"), hourIdx.as("hb"))
        .agg((sum(round(col("value") * lit(100.0)).cast("long"))
          .cast("double")
          / (lit(100.0) * count(lit(1)).cast("double"))).as("value"))
      ops.AnalyticsOps.crossCorrelation(cents, col("event_type"),
          col("hb"), col("value"), maxLag = 3)
        .select(col("series_a"), col("series_b"), col("lag"),
          round(col("r"), 6).as("r"), col("n_buckets"))
    }),

    // --- inter-arrival burstiness (oracle-backed, EXACT): per-series gap
    // stats + CV + Goh-Barabasi burstiness index — the crawl-politeness /
    // traffic-shape rollup next to q112's staleness. Integer-exact
    // dispersion sums; one keyed window pass + one hash agg.
    "q125_interarrival" -> ((s, dir) =>
      ops.AnalyticsOps.interArrival(events(s, dir), col("user_id"),
          col("ts"), col("event_id"))
        .select(col("key").as("user_id"), col("n_gaps"), col("mean_gap_ms"),
          col("min_gap_ms"), col("max_gap_ms"), col("cv"), col("burstiness"))),

    // --- autocorrelation rollup (oracle-backed): per-event-type ACF at
    // lags 1..6 over hourly buckets — the seasonality fingerprint, q124's
    // CCF turned inward. Same exact integer-cents alignment means; the lag
    // fan-out + corr run at bucket granularity.
    "q126_acf" -> ((s, dir) => {
      val hourIdx = floor((unix_millis(col("ts").cast("timestamp"))
        - lit(AnchorMs)) / lit(3600000.0)).cast("long")
      val cents = events(s, dir)
        .groupBy(col("event_type"), hourIdx.as("hb"))
        .agg((sum(round(col("value") * lit(100.0)).cast("long"))
          .cast("double")
          / (lit(100.0) * count(lit(1)).cast("double"))).as("value"))
      ops.AnalyticsOps.autoCorrelation(cents, col("event_type"),
          col("hb"), col("value"), maxLag = 6)
        .select(col("series").as("event_type"), col("lag"),
          round(col("r"), 6).as("r"), col("n_buckets"))
    }),

    // --- event-type mix diversity (oracle-backed): per (user, day) Shannon
    // entropy / normalized entropy / Gini-Simpson of the event_type
    // distribution — exact integer counts, fixed type-ascending ln fold
    // (the q116 discipline), raw doubles mirrored bit-for-bit.
    "q127_type_entropy" -> ((s, dir) =>
      ops.AnalyticsOps.typeEntropy(events(s, dir), col("user_id"),
          unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
          col("event_type"))
        .select(col("key").as("user_id"), col("period").as("day_ms"),
          col("n_events"), col("n_types"), col("entropy"),
          col("norm_entropy"), col("simpson"))),

    // --- rolling quantiles from the stored sketch tier (oracle-backed in
    // the exact regime): trailing-7-day p50/p95/p99 per user from
    // mergeable per-day MRL blobs — q117's trailing-WAU move applied to
    // percentiles; raw events are never re-read. Every trailing window in
    // this testdata holds far below k=512 values (max ~23 at sf0.1), so no
    // compaction fires and the quantiles are exactly quantile_cont (q54's
    // license — re-check if the generator changes); the compacted regime
    // is QuantileSketchSpec's rank bound.
    "q128_rolling_quantiles" -> ((s, dir) =>
      ops.AnalyticsOps.rollingQuantileSketch(events(s, dir), col("user_id"),
          col("ts"), col("value"), windowDays = 7)
        .select(col("key").as("user_id"), col("day_ms"), col("window_n"),
          round(col("p50"), 8).as("p50"), round(col("p95"), 8).as("p95"),
          round(col("p99"), 8).as("p99"))),

    // --- crawl revisit scheduling (oracle-backed): Cho-Garcia-Molina
    // bias-corrected change-rate estimator -> freshness-targeted recrawl
    // interval per series. Integer change counts under a (ts, event_id)
    // total order; fixed-order ln/divisions mirrored raw (q116
    // discipline). One keyed window pass + one hash agg.
    "q129_revisit_schedule" -> ((s, dir) =>
      ops.AnalyticsOps.revisitSchedule(events(s, dir), col("user_id"),
          col("ts"), col("event_id"), col("value"))
        .select(col("key").as("user_id"), col("n_obs"), col("n_changes"),
          col("mean_interval_ms"), col("lambda_per_day"),
          col("revisit_hours"))),

    // --- robust trimmed/winsorized mean (oracle-backed, EXACT): per
    // (user, day) 10%-trimmed and winsorized means over integer cents —
    // the outlier-resistant rollup a wild scrape can't poison. Rank+count
    // share one exchange+sort; each mean is one fixed-order division.
    "q130_trimmed_mean" -> ((s, dir) =>
      ops.AnalyticsOps.trimmedMean(events(s, dir), col("user_id"),
          unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
          col("value"), col("event_id"))
        .select(col("key").as("user_id"), col("period").as("day_ms"),
          col("n"), col("trimmed_each"), col("trimmed_mean"),
          col("winsor_mean"))),

    // --- per-doc TF-IDF keywords (oracle-backed): top-5 terms by
    // tf*(ln((N+1)/(df+1))+1) with a deterministic (score DESC, term)
    // rank — exact integer tf/df/N, two fixed-order double ops, raw
    // scores mirrored. WindowGroupLimit keeps the sort k-bounded.
    "q131_keywords" -> ((s, dir) =>
      TextOps.keywordTfidf(documents(s, dir), k = 5)),

    // --- daily traffic concentration (oracle-backed, EXACT): Gini / HHI /
    // top-share over per-user event counts — the crawl-equity rollup.
    // Integer rank-weighted sums; three fixed-order divisions; the window
    // rank runs at unit granularity, never event-sized.
    "q132_concentration" -> ((s, dir) =>
      ops.AnalyticsOps.concentration(events(s, dir),
          unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
          col("user_id"))
        .select(col("period").as("day_ms"), col("n_units"), col("total"),
          col("gini"), col("hhi"), col("top_share"))),

    // --- token-bucket rate-limit audit (oracle-backed, EXACT): replay
    // each series against a 0.001 token/s, burst-2 bucket via the
    // time-anchored tropical segmented scan (the q102 machinery — one
    // event shuffle, integer nano-tokens, bit-identical to the
    // sequential recurrence at any chunking). The crawl-politeness
    // compliance report.
    "q133_rate_limit" -> ((s, dir) =>
      ops.AnalyticsOps.rateLimitAudit(events(s, dir), col("user_id"),
          col("ts"), col("event_id"), ratePerSec = 0.001, burst = 2.0,
          bucketMs = 86400000L, anchorMs = AnchorMs)
        .select(col("tie").as("event_id"), col("key").as("user_id"),
          col("ts"), col("burst_used"), col("violation"))),

    // --- per-language perplexity percentile gate (oracle-backed): the
    // CCNet head/middle/tail cut — keep the lowest-perplexity 70% within
    // each language. RANK-semantics percent_rank is the exact rational
    // (rank-1)/(n-1), so the gate is bit-deterministic; one window pass.
    "q134_quality_gate" -> ((s, dir) => {
      val scored = TextOps.lmScore(documents(s, dir))
        .join(documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
        .filter(col("ppl").isNotNull)
      ops.CorpusOps.percentileGate(scored, col("lang"), col("ppl"), 0.7)
        .select(col("doc_id"), col("lang"), col("ppl"), col("pct_rank"),
          col("keep"))
    }),

    // --- per-language Zipf rank-frequency fit (oracle-backed): OLS of
    // ln(freq) on ln(rank) over the top-1000 ranks — the corpus-health
    // diagnostic (natural text ≈ 1; templated/generated text drifts).
    // Integer term counts, fixed-order ln folds, olsFinalize's closed
    // form — raw doubles mirror the oracle bit-for-bit.
    "q135_zipf_fit" -> ((s, dir) =>
      TextOps.zipfFit(documents(s, dir), col("lang"), topN = 1000)
        .select(col("grp").as("lang"), col("n_ranks"), col("vocab_size"),
          col("zipf_exponent"), col("intercept"), col("r2"))),

    // --- per-language Heaps-law vocabulary growth (oracle-backed): OLS of
    // ln(cum vocab) on ln(cum tokens) at power-of-2 chunk-rank checkpoints
    // along the doc_id axis — "is more crawl still buying new vocabulary?"
    // All-integer prefixes over a chunk-count-sized rollup; ≤64-point
    // fixed-order ln folds; raw doubles mirror the oracle bit-for-bit.
    "q136_heaps_fit" -> ((s, dir) =>
      TextOps.heapsFit(documents(s, dir), col("lang"), col("doc_id"),
          chunkShift = 4)
        .select(col("grp").as("lang"), col("n_points"), col("total_tokens"),
          col("total_vocab"), col("beta"), col("ln_k"), col("r2"))),

    // --- per-source unigram divergence from the corpus (oracle-backed):
    // KL / Jensen-Shannon / total-variation over the corpus top-200 token
    // distribution — the source-skew monitor run before corpus mixing.
    // Integer counts, broadcast top set, topN-bounded fixed-order folds;
    // raw doubles mirror the oracle bit-for-bit.
    "q137_source_divergence" -> ((s, dir) =>
      TextOps.sourceDivergence(documents(s, dir), col("source"), topN = 200)
        .select(col("grp").as("source"), col("n_top_tokens"), col("kl"),
          col("js"), col("tv"))),

    // --- Bloom-gated new-entity detection (oracle-backed, EXACT): (user,
    // action) combinations first seen in the back half of the month — the
    // crawl-frontier "never crawled before" gate. The Bloom sketch
    // (constant-embedded, Spark's own runtime-filter contract) prunes the
    // anti-join to the probe-positive remainder; negatives are
    // definitively new, so the output is exactly the anti-join's at any
    // fpp.
    "q138_new_keys" -> ((s, dir) =>
      ops.AnalyticsOps.newKeysGate(events(s, dir),
          col("user_id") * 1000L
            + get_json_object(col("props"), "$.k").cast("long"),
          col("ts"),
          splitMs = AnchorMs + 15L * 86400000L, expectedItems = 100000L)
        .select(col("key"), col("n_events"), col("first_ts_ms"))),

    // --- inverted-index build (oracle-backed, EXACT): per-token df/cf +
    // a WindowGroupLimit-capped ascending posting list — the retrieval
    // primitive next to q65's BM25 scoring. Integer counts + a
    // deterministic posting string; no stop-word posting list is ever
    // materialized.
    "q139_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(documents(s, dir), minDf = 2L, postingCap = 8)),

    // --- PMI bigram collocations (oracle-backed, EXACT): top-100 adjacent
    // token pairs by pointwise mutual information — phrase mining /
    // tokenizer merge candidates. Integer counts; the score is a fixed
    // left-to-right ln chain, so ranks and raw doubles mirror the oracle.
    "q140_pmi_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(documents(s, dir), minCount = 5L, topN = 100)),

    // --- interpolated Kneser-Ney bigram LM table (oracle-backed, EXACT):
    // absolute-discounted p_kn(w2|w1) with continuation-count backoff —
    // the count-based LM build that q118/q134's scoring passes consume.
    // Every statistic is an integer over the FULL bigram table; only the
    // emitted rows are minCount-filtered.
    "q141_kneser_ney_lm" -> ((s, dir) =>
      TextOps.knBigramLm(documents(s, dir), discount = 0.75, minCount = 5L)),

    // --- exact trailing-7d actives (oracle-backed, EXACT): the true WAU
    // curve via the dedup-first first-in-window identity (<= 7-row fan-out
    // per DISTINCT (user, day), no per-window distinct sets) — the exact
    // twin that pins q117's mergeable-HLL tier.
    "q142_trailing_actives" -> ((s, dir) =>
      ops.AnalyticsOps.trailingActives(events(s, dir), col("user_id"),
        col("ts"), windowDays = 7)),

    // --- rolling 24h view/purchase correlation (oracle-backed, EXACT):
    // per hourly bucket, Pearson r of the two types' decimal-cents volumes
    // over the trailing 24 PRESENT hours (RANGE frame = true wall clock)
    // — the live drift companion to q74's global correlation. Integer
    // sufficient statistics; fixed-order double finalize mirrors the
    // oracle bit-for-bit.
    "q143_rolling_corr" -> ((s, dir) =>
      ops.AnalyticsOps.rollingCorrelation(events(s, dir), col("event_type"),
        col("ts"), col("value"), "view", "purchase", windowBuckets = 24)),

    // --- earth-mover + KS histogram drift (oracle-backed, EXACT): q96's
    // day-over-day value histograms scored by HOW FAR mass moved
    // (1-Wasserstein via the cumulative-count identity, absent bins
    // covered exactly by lead-gap products) and the worst
    // single-threshold CDF gap (KS) — magnitude-aware drift next to
    // q96's TV and q116's PSI. Integer cumulative statistics; one fixed
    // division each.
    "q144_emd_drift" -> ((s, dir) =>
      ops.AnalyticsOps.emdKsDrift(events(s, dir), col("event_type"),
          unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
          86400000L, col("value"), binWidth = 25.0)
        .select(col("key").as("event_type"), col("period").as("day_ms"),
          col("n"), col("m"), col("emd"), col("ks"))),

    // --- rank-biased overlap of daily top-10 users (oracle-backed,
    // EXACT): truncated RBO@10 (p=0.9) between consecutive days' ranked
    // heavy-hitter lists — the RANK-sensitive drift monitor next to
    // q144's distributional ones. Deterministic ranks, shared literal
    // weight table, fixed-order <= k fold: raw doubles mirror.
    "q145_rbo_topk" -> ((s, dir) =>
      ops.AnalyticsOps.rboDrift(events(s, dir), col("user_id"),
          unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
          86400000L, k = 10, p = 0.9)
        .select(col("period").as("day_ms"), col("overlap_k"), col("rbo"))),

    // --- Kaplan-Meier churn survival (oracle-backed, EXACT): the
    // product-limit estimator over (user, prop-key) entity lifetimes with
    // right-censoring at the observation edge (7-day churn definition) —
    // "how long do tracked entities stay?" next to q77's cohort retention
    // triangle (q138's entity key: users alone never churn in this data).
    // Integer risk sets/death counts; ascending-t product fold mirrors
    // bit-for-bit.
    "q146_churn_survival" -> ((s, dir) =>
      ops.AnalyticsOps.churnSurvival(events(s, dir),
        col("user_id") * 1000L
          + get_json_object(col("props"), "$.k").cast("long"),
        col("ts"), churnDays = 7)),

    // --- per-user weekly seasonality strength (oracle-backed, EXACT):
    // eta^2 of the hour-of-week profile over decimal-cents values — the
    // forecastability gate run before choosing q50's seasonal smoother
    // over q49's, next to q91's period detectors. Integer cells; one
    // fixed double chain + an ascending-hour <=168-term fold.
    "q148_seasonality_strength" -> ((s, dir) =>
      ops.AnalyticsOps.seasonalityStrength(events(s, dir), col("user_id"),
          col("ts"), col("value"))
        .select(col("key").as("user_id"), col("n"), col("n_hours"),
          col("ss_total"), col("ss_between"), col("eta_sq"))),

    // --- language-ID evaluation scoreboard (oracle-backed, EXACT): q08's
    // stopword-vote predictions scored against the labeled lang column —
    // per-class confusion counts + precision/recall/F1, the corpus-level
    // twin of the kernel's per-series Scoring. Integer cells, fixed
    // double chains.
    "q147_langid_eval" -> ((s, dir) => {
      val docs = documents(s, dir)
      TextOps.labelEval(
        TextOps.langId(docs).join(docs.select(col("doc_id"), col("lang")),
          "doc_id"),
        col("lang"), col("lang_pred"))
        .select(col("cls").as("lang"), col("support"), col("pred_n"),
          col("tp"), col("fp"), col("fn"), col("precision"), col("recall"),
          col("f1"))
    }),

    // --- DAY-tier continuous-aggregate rewrite (oracle-backed, exact):
    // the daily dashboard aggregate over RAW events is served from the
    // stored 1d rollup through the multi-tier Catalyst rule — the ~1/86400
    // read-path reduction — while the oracle recomputes from raw, so the
    // hash match proves the day tier's read path lossless. Completes the
    // q98 (hour) / q100 (min-max) / q104 (avg) rewrite family.
    "q149_rewrite_day" -> ((s, dir) => {
      def dayAgg(df: DataFrame) = df
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(12,2)")).as("vsum"))
      val storePath = s"/tmp/graft_q149_rollup_${math.abs(dir.hashCode)}"
      dayAgg(events(s, dir)).withColumnRenamed("bucket", "bucket_start")
        .coalesce(storeFiles(dir))
        .write.mode("overwrite").parquet(storePath)
      val stored = s.read.parquet(storePath)
      plans.RollupRewrite.servedFromTiers(s, "events.parquet",
          Map("day" -> stored), dayAgg(events(s, dir)))
        .select(col("user_id"), col("bucket"), col("cnt"),
          col("vsum").cast("double").as("vsum"))
    }),

    // --- FILTERED continuous-aggregate rewrite (oracle-backed, exact):
    // a dashboard query with `WHERE user_id % 7 = 3` between the hour
    // aggregate and the raw scan — the predicate references only the
    // grouping key, so it commutes with grouping and the rule moves it
    // onto the STORE's user_id column (bucket-sized filter, raw scan
    // gone). The servedFrom require() fails loudly if the filtered shape
    // ever stops firing; the oracle recomputes from filtered raw events.
    "q150_rewrite_filtered" -> ((s, dir) => {
      def hourAgg(df: DataFrame) = df
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(12,2)")).as("vsum"))
      val storePath = s"/tmp/graft_q150_rollup_${math.abs(dir.hashCode)}"
      hourAgg(events(s, dir)).withColumnRenamed("bucket", "bucket_start")
        .coalesce(storeFiles(dir))
        .write.mode("overwrite").parquet(storePath)
      val stored = s.read.parquet(storePath)
      plans.RollupRewrite.servedFrom(s, "events.parquet", stored,
          hourAgg(events(s, dir).filter(col("user_id") % 7 === 3)))
        .select(col("user_id"), col("bucket"), col("cnt"),
          col("vsum").cast("double").as("vsum"))
    })
  )

  /** Queries whose dominant stage is per-key KERNEL CPU (ClaSP/ClaSS
    * segmentation, CLaP state detection, matrix-profile discords, DTW,
    * FFT/ACF period search): their shuffles are tiny in bytes but
    * heavy-tailed in per-key cost, so their partition floor is the full
    * core count with no byte cap, instead of the size-derived width — see
    * [[graft.ops.Adaptive]]. */
  private val cpuDenseQueries: Set[String] = Set(
    "q13_epoch_rollup_1h", "q14_clasp_summary", "q23_crawl_pipeline_1d",
    "q24_stream_summary", "q25_stream_cps", "q27_state_detection",
    "q28_multivariate_cps", "q31_epoch_states", "q88_discords",
    "q90_dtw_search", "q91_period_detect")

  /** Every query derives its own shuffle width from its input footprint on
    * entry (guide §2.2/§2.5; [[graft.ops.Adaptive]] has the measurements
    * and the 100-TB derivation). Pure execution sizing — no query's result
    * depends on partitioning. */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    rawAll.map { case (name, fn) =>
      name -> { (s: SparkSession, dir: String) =>
        ops.Adaptive.tune(s, dir, cpuDense = cpuDenseQueries(name))
        fn(s, dir)
      }
    }

  // ------------------------------------------------------------- oracles

  /** Generated DuckDB oracle for q50: an EXACT FP MIRROR of
    * [[graft.ops.AnalyticsOps.holtWinters]]'s three-phase segmented scan —
    * `rec` composes the per-chunk (m+2)×(m+2) affine map row by row in the
    * engine's exact coefficient/op order (logical row layout: the engine's
    * circular-index rotation is a physical permutation of the same values),
    * `scan` resolves chunk-incoming states per key (off(i) first, then
    * products in column order, like the engine's inner loop), and `walk`
    * re-runs the sequential recurrence per chunk from that state — so raw
    * doubles match the engine BIT-FOR-BIT and no rounding is needed. The
    * 90-column matrix CTE is machine-generated here because a hand-rolled
    * list/struct formulation would hit DuckDB 1.0's lambda bug (struct
    * fields repeating an acc subexpression miscompute). NOTE: recursive
    * CTEs bind UNION ALL columns positionally — seed and step emit the
    * matrix in the same row-major order. */
  private lazy val q50MirrorSql: String = {
    val dim = 9 // period 7 + level + trend
    val (a, b, g) = ("0.3", "0.1", "0.2")
    def mexpr(r: Int, c: Int): String = {
      val (ml, mb, mq) = (s"r.m_0_$c", s"r.m_1_$c", s"r.m_8_$c")
      r match {
        case 0 => s"(1.0-$a)*($ml + $mb) - $a*$mq AS m_0_$c"
        case 1 => s"((-$b)*$a)*$ml + ($b*(1.0-$a) + (1.0-$b))*$mb - $b*$a*$mq AS m_1_$c"
        case 2 => s"((-$g)*(1.0-$a))*$ml - $g*(1.0-$a)*$mb + ($g*$a + (1.0-$g))*$mq AS m_2_$c"
        case k => s"r.m_${k - 1}_$c AS m_${k}_$c"
      }
    }
    val stepM = (for (r <- 0 until dim; c <- 0 until dim) yield mexpr(r, c)).mkString(",\n    ")
    val (dl, db, dq) = ("r.o_0", "r.o_1", "r.o_8")
    val stepO = (Seq(
      s"(1.0-$a)*($dl + $db) - $a*$dq + $a*o.value AS o_0",
      s"((-$b)*$a)*$dl + ($b*(1.0-$a) + (1.0-$b))*$db - $b*$a*$dq + $b*$a*o.value AS o_1",
      s"((-$g)*(1.0-$a))*$dl - $g*(1.0-$a)*$db + ($g*$a + (1.0-$g))*$dq + $g*(1.0-$a)*o.value AS o_2") ++
      (3 until dim).map(k => s"r.o_${k - 1} AS o_$k")).mkString(",\n    ")
    val seedM = (for (r <- 0 until dim; c <- 0 until dim)
      yield s"${if (r == c) "1.0" else "0.0"}::DOUBLE AS m_${r}_$c").mkString(", ")
    val seedO = (0 until dim).map(r => s"0.0::DOUBLE AS o_$r").mkString(", ")
    val allMo = (for (r <- 0 until dim; c <- 0 until dim) yield s"m_${r}_$c") ++
      (0 until dim).map(r => s"o_$r")
    val chkAggs = allMo.map(x => s"max_by($x, rn) AS $x").mkString(",\n    ")
    val scanStep = (0 until dim).map(i =>
      s"s.o_$i + " + (0 until dim).map(j => s"s.m_${i}_$j*s.s_$j").mkString(" + ") +
        s" AS s_$i").mkString(",\n    ")
    val scanSeed = "firstval AS s_0, " +
      (1 until dim).map(i => s"0.0::DOUBLE AS s_$i").mkString(", ")
    val carry = allMo.map(x => s"k.$x").mkString(", ")
    val lExpr = s"(1.0-$a)*(w.l + w.b) + $a*(o.value - w.q7)"
    val bExpr = s"$b*(($lExpr) - w.l) + (1.0-$b)*w.b"
    val sExpr = s"$g*(o.value - ($lExpr)) + (1.0-$g)*w.q7"
    val qShift = (2 to 7).map(k => s"w.q${k - 1} AS q$k").mkString(", ")
    val walkSeedQ = (0 until 7).map(i => s"s.s_${i + 2} AS q${i + 1}").mkString(", ")
    s"""WITH RECURSIVE ord AS (
  SELECT event_id, user_id, epoch_ms(ts) AS tms, value,
    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS bucket
  FROM events
), rord AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, bucket
    ORDER BY tms, event_id) AS rn FROM ord
), rec AS (
  SELECT user_id, bucket, 0::BIGINT AS rn, NULL::DOUBLE AS value,
    $seedM, $seedO
  FROM (SELECT DISTINCT user_id, bucket FROM rord)
  UNION ALL
  SELECT o.user_id, o.bucket, o.rn, o.value,
    $stepM,
    $stepO
  FROM rord o JOIN rec r
    ON o.user_id = r.user_id AND o.bucket = r.bucket AND o.rn = r.rn + 1
), chk AS (
  SELECT user_id, bucket, $chkAggs, min_by(value, rn) AS firstval,
    row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS ci
  FROM rec WHERE rn >= 1 GROUP BY user_id, bucket
), scan AS (
  SELECT user_id, bucket, ci, $scanSeed, ${allMo.mkString(", ")}
  FROM chk WHERE ci = 1
  UNION ALL
  SELECT k.user_id, k.bucket, k.ci,
    $scanStep,
    $carry
  FROM chk k JOIN scan s ON k.user_id = s.user_id AND k.ci = s.ci + 1
), walk AS (
  SELECT s.user_id, s.bucket, 0::BIGINT AS rn, NULL::BIGINT AS event_id,
    NULL::BIGINT AS tms, NULL::DOUBLE AS value,
    s.s_0 AS l, s.s_1 AS b, $walkSeedQ,
    NULL::DOUBLE AS fc
  FROM scan s
  UNION ALL
  SELECT o.user_id, o.bucket, o.rn, o.event_id, o.tms, o.value,
    $lExpr AS l,
    $bExpr AS b,
    $sExpr AS q1,
    $qShift,
    (($lExpr) + ($bExpr)) + w.q6 AS fc
  FROM rord o JOIN walk w
    ON o.user_id = w.user_id AND o.bucket = w.bucket AND o.rn = w.rn + 1
)
SELECT event_id, user_id, make_timestamp(tms * 1000) AS ts, value,
  l AS level, b AS trend, q1 AS seasonal, fc AS forecast
FROM walk WHERE rn >= 1"""
  }

  /** Generated DuckDB oracle for q49/q89: an EXACT FP MIRROR of
    * [[graft.ops.AnalyticsOps.holt]]'s segmented scan (mirroring rules per
    * q50MirrorSql's scaladoc). Coefficients are emitted as the SAME literal
    * arithmetic the engine evaluates (`(1.0-a)*phi`, `phi*(1.0-a*b)`, …),
    * so DuckDB's constant folding yields bit-identical doubles; with
    * phi = 1.0 every φ-multiplication is IEEE-exact, making the generated
    * q49 mirror equivalent to the pre-damping hand-written one. */
  private def holtMirrorSql(alpha: String, beta: String, phi: String): String = {
    val a00 = s"(1.0-$alpha)"
    val a01 = s"((1.0-$alpha)*$phi)"
    val a10 = s"((-$alpha)*$beta)"
    val a11 = s"($phi*(1.0 - $alpha*$beta))"
    s"""WITH RECURSIVE ord AS (
       |  SELECT event_id, user_id, epoch_ms(ts) AS tms, value,
       |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS bucket
       |  FROM events
       |), rord AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, bucket
       |    ORDER BY tms, event_id) AS rn FROM ord
       |), rec AS (
       |  SELECT user_id, bucket, 0::BIGINT AS rn, NULL::BIGINT AS event_id,
       |    NULL::BIGINT AS tms, NULL::DOUBLE AS value,
       |    1.0::DOUBLE AS m00, 0.0::DOUBLE AS m01, 0.0::DOUBLE AS m10,
       |    1.0::DOUBLE AS m11, 0.0::DOUBLE AS d0, 0.0::DOUBLE AS d1
       |  FROM (SELECT DISTINCT user_id, bucket FROM rord)
       |  UNION ALL
       |  SELECT o.user_id, o.bucket, o.rn, o.event_id, o.tms, o.value,
       |    $a00*r.m00 + $a01*r.m10 AS m00,
       |    $a00*r.m01 + $a01*r.m11 AS m01,
       |    $a10*r.m00 + $a11*r.m10 AS m10,
       |    $a10*r.m01 + $a11*r.m11 AS m11,
       |    $a00*r.d0 + $a01*r.d1 + $alpha*o.value AS d0,
       |    $a10*r.d0 + $a11*r.d1 + $alpha*$beta*o.value AS d1
       |  FROM rord o JOIN rec r
       |    ON o.user_id = r.user_id AND o.bucket = r.bucket AND o.rn = r.rn + 1
       |), chk AS (
       |  SELECT user_id, bucket, max_by(m00, rn) AS m00, max_by(m01, rn) AS m01,
       |    max_by(m10, rn) AS m10, max_by(m11, rn) AS m11,
       |    max_by(d0, rn) AS d0, max_by(d1, rn) AS d1,
       |    min_by(value, rn) AS firstval,
       |    row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS ci
       |  FROM rec WHERE rn >= 1 GROUP BY user_id, bucket
       |), scan AS (
       |  SELECT user_id, bucket, ci, firstval AS l, 0.0::DOUBLE AS b,
       |    m00, m01, m10, m11, d0, d1 FROM chk WHERE ci = 1
       |  UNION ALL
       |  SELECT k.user_id, k.bucket, k.ci,
       |    s.m00 * s.l + s.m01 * s.b + s.d0 AS l,
       |    s.m10 * s.l + s.m11 * s.b + s.d1 AS b,
       |    k.m00, k.m01, k.m10, k.m11, k.d0, k.d1
       |  FROM chk k JOIN scan s ON k.user_id = s.user_id AND k.ci = s.ci + 1
       |), fin AS (
       |  SELECT p.event_id, p.user_id, p.tms, p.value,
       |    p.m00 * s.l + p.m01 * s.b + p.d0 AS level,
       |    p.m10 * s.l + p.m11 * s.b + p.d1 AS trend
       |  FROM rec p JOIN scan s ON p.user_id = s.user_id AND p.bucket = s.bucket
       |  WHERE p.rn >= 1
       |)
       |SELECT event_id, user_id, make_timestamp(tms * 1000) AS ts, value,
       |  level, trend, level + $phi*trend AS forecast
       |FROM fin""".stripMargin
  }

  /** Generated DuckDB oracle for q70/q34: an EXACT mirror of
    * [[graft.ops.DownsampleOps.lttbIndices]] as a recursive CTE. The
    * per-user selection state (last chosen index a) advances one bucket
    * per recursion step; centroid sums are left folds (list_reduce)
    * matching the engine's accumulation order, and the first-max argmax is
    * list_position(areas, list_max(areas)). `agg` must be exact under any
    * partitioning (min/max, integer sums) so every area double is
    * bit-identical cross-engine — never pass a float-summed aggregate.
    * Any change to lttbIndices' op order updates BOTH oracles here. */
  private def lttbMirrorSql(
      trunc: String, agg: String, target: Int, outCol: String): String = {
    val inner = target - 2
    s"""WITH RECURSIVE agg AS (
       |  SELECT CAST(user_id AS VARCHAR) AS u,
       |         epoch_ms(date_trunc('$trunc', ts)) AS x, $agg AS y
       |  FROM events GROUP BY 1, 2),
       |ser AS (
       |  SELECT u, list(x ORDER BY x) AS xs, list(y ORDER BY x) AS ys,
       |         CAST(count(*) AS INT) AS n
       |  FROM agg GROUP BY u),
       |sel AS (
       |  SELECT u, 0 AS i, 0 AS a FROM ser WHERE n > $target
       |  UNION ALL
       |  SELECT u, i + 1 AS i,
       |    bs0 + list_position(areas, list_max(areas)) - 1 AS a
       |  FROM (
       |    SELECT q.*,
       |      list_transform(generate_series(bs0 + 1, be0),
       |        p -> abs((ax - cx) * (ys[p] - ay)
       |               - (ax - CAST(xs[p] AS DOUBLE)) * (cy - ay)) * 0.5) AS areas
       |    FROM (
       |      SELECT v.*, sx / m AS cx, sy / m AS cy
       |      FROM (
       |        SELECT s.u, s.i, r.xs, r.ys, r.n,
       |          CAST(r.xs[s.a + 1] AS DOUBLE) AS ax, r.ys[s.a + 1] AS ay,
       |          (r.n - 2) / $inner.0 AS bs,
       |          CAST(floor(s.i * bs) AS INT) + 1 AS bs0,
       |          least(CAST(floor((s.i + 1) * bs) AS INT) + 1, r.n) AS be0,
       |          CAST(floor((s.i + 1) * bs) AS INT) + 1 AS cs0,
       |          least(CAST(floor((s.i + 2) * bs) AS INT) + 1, r.n) AS ce0,
       |          CASE WHEN least(CAST(floor((s.i + 2) * bs) AS INT) + 1, r.n)
       |                    > CAST(floor((s.i + 1) * bs) AS INT) + 1
       |            THEN list_reduce(
       |              list_transform(
       |                r.xs[CAST(floor((s.i + 1) * bs) AS INT) + 2
       |                     : least(CAST(floor((s.i + 2) * bs) AS INT) + 1, r.n)],
       |                e -> CAST(e AS DOUBLE)),
       |              (acc, e) -> acc + e)
       |            ELSE 0.0 END AS sx,
       |          CASE WHEN least(CAST(floor((s.i + 2) * bs) AS INT) + 1, r.n)
       |                    > CAST(floor((s.i + 1) * bs) AS INT) + 1
       |            THEN list_reduce(
       |              r.ys[CAST(floor((s.i + 1) * bs) AS INT) + 2
       |                   : least(CAST(floor((s.i + 2) * bs) AS INT) + 1, r.n)],
       |              (acc, e) -> acc + e)
       |            ELSE 0.0 END AS sy,
       |          greatest(least(CAST(floor((s.i + 2) * bs) AS INT) + 1, r.n)
       |                   - (CAST(floor((s.i + 1) * bs) AS INT) + 1), 1) AS m
       |        FROM sel s JOIN ser r USING (u)
       |        WHERE s.i < $inner
       |      ) v
       |    ) q
       |  ) z),
       |pick AS (
       |  SELECT u, a FROM sel
       |  UNION ALL
       |  SELECT u, n - 1 AS a FROM ser WHERE n > $target
       |  UNION ALL
       |  SELECT u, unnest(generate_series(0, n - 1)) AS a FROM ser WHERE n <= $target)
       |SELECT p.u AS user_id, epoch_ms(r.xs[p.a + 1]) AS bucket_start,
       |  round(r.ys[p.a + 1], 6) AS $outCol
       |FROM pick p JOIN ser r USING (u)""".stripMargin
  }

  private val tokExpr = "string_split_regex(trim(text), '\\s+')"

  /** Pure-DuckDB-SQL XXH64(seed=42) — a bit-exact mirror of Spark's built-in
    * `xxhash64` over each token's UTF-8 bytes, so the hash-folding queries
    * (q17 simhash, q22 fingerprint) get full value oracles instead of
    * rows-only checks. All arithmetic runs mod 2^64 in HUGEINT: a*b mod 2^64
    * splits the multiplicand at 2^32 (lo(a)*b + ((hi(a)*lo(b)) mod 2^32)<<32
    * — the hi*hi and hi(a)*hi(b-lo) cross terms vanish mod 2^64), rotations
    * are mul+div by powers of two, XOR goes through UBIGINT. The generated
    * prelude implements the COMPLETE spec — the 4-lane 32-byte stripe loop
    * (recursive CTE), merge rounds, 8/4/1-byte tails, avalanche — validated
    * token-for-token against Spark's xxhash64 on 1..100-byte and multi-byte
    * UTF-8 inputs, then corpus-wide at sf0.01 and sf0.1 (0 mismatches).
    * `__xh` is MATERIALIZED because the q22 fold references it once per
    * recursion step. */
  private object XxhSql {
    private val M = BigInt(1) << 64
    private val P1 = BigInt("11400714785074694791")
    private val P2 = BigInt("14029467366897019727")
    private val P3 = BigInt("1609587929392839161")
    private val P4 = BigInt("9650029242287828579")
    private val P5 = BigInt("2870177450012600261")
    private def mulmod(a: String, p: BigInt): String = {
      val lo = p % (BigInt(1) << 32)
      s"(((($a) % 4294967296) * $p + (((($a) // 4294967296) * $lo) % 4294967296) * 4294967296) % $M)"
    }
    private def rotl(x: String, r: Int): String =
      s"(((($x) * ${BigInt(1) << r}) % $M) + (($x) // ${BigInt(1) << (64 - r)}))"
    private def xor(a: String, b: String): String =
      s"xor(($a)::UBIGINT, ($b)::UBIGINT)::HUGEINT"
    private def shr(x: String, s: Int): String = s"(($x) // ${BigInt(1) << s})"
    private def lane(off: String, nBytes: Int): String =
      (0 until nBytes).map(k => s"B[($off)+$k] * ${BigInt(1) << (8 * k)}")
        .mkString("(", " + ", ")")
    private def rnd(acc: String, l: String): String =
      mulmod(rotl(s"((($acc) + ${mulmod(l, P2)}) % $M)", 31), P1)
    private def merge(h: String, v: String): String =
      s"((${mulmod(xor(h, rnd("0", v)), P1)} + $P4) % $M)"
    private def stripe8(h: String, l: String): String =
      s"((${mulmod(rotl(xor(h, rnd("0", l)), 27), P1)} + $P4) % $M)"
    private def stripe4(h: String, l: String): String =
      s"((${mulmod(rotl(xor(h, mulmod(l, P1)), 23), P2)} + $P3) % $M)"
    private def stripe1(h: String, b: String): String =
      mulmod(rotl(xor(h, mulmod(b, P5)), 11), P1)
    /** Unsigned HUGEINT in [0, 2^64) -> Java signed long. */
    def signed(e: String): String =
      s"(CASE WHEN ($e) >= 9223372036854775808 THEN ($e) - $M ELSE ($e) END)::BIGINT"
    /** Signed BIGINT -> unsigned HUGEINT in [0, 2^64) (signed's inverse). */
    def unsigned(e: String): String =
      s"(CASE WHEN ($e) < 0 THEN ($e) + $M ELSE ($e) END)::HUGEINT"
    /** Unsigned byte value (0..255) of the i-th (1-based) byte of the hex
      * dump column `hx` — the one hex decode every byte-level mirror
      * shares (XxhSql's `__ba`, MediaSql's signed variant). */
    val hexByteU: String =
      "((strpos('0123456789ABCDEF', substr(hx, (2*i-1)::INT, 1)) - 1) * 16" +
        " + (strpos('0123456789ABCDEF', substr(hx, (2*i)::INT, 1)) - 1))"
    /** CTE chain from `tokSource` (doc_id, pos, tok) to
      * `__xh(doc_id, pos, h)` with h = XXH64(utf8(tok), seed=42) unsigned.
      * Embed after a `WITH RECURSIVE` keyword. */
    def prelude(tokSource: String): String = {
      val seed = BigInt(42)
      val v0 = Seq((seed + P1 + P2).mod(M), (seed + P2).mod(M), seed, (seed - P1).mod(M))
      val ctes = scala.collection.mutable.ArrayBuffer[String]()
      ctes += s"__tk AS ($tokSource)"
      ctes += "__bx AS (SELECT doc_id, pos, octet_length(encode(tok)) AS n, hex(encode(tok)) AS hx FROM __tk)"
      ctes += s"""__ba AS (SELECT doc_id, pos, n::HUGEINT AS n, list_transform(range(1, n+1),
                 |    i -> $hexByteU::HUGEINT) AS B FROM __bx)""".stripMargin
      // 32-byte 4-lane stripe loop (runs zero rounds for tokens < 32 bytes)
      ctes += s"""__rec AS (
                 |  SELECT doc_id, pos, B, n, 0::HUGEINT AS i,
                 |    ${v0(0)}::HUGEINT AS v1, ${v0(1)}::HUGEINT AS v2, ${v0(2)}::HUGEINT AS v3, ${v0(3)}::HUGEINT AS v4
                 |  FROM __ba
                 |  UNION ALL
                 |  SELECT doc_id, pos, B, n, i + 32,
                 |    ${rnd("v1", "l1")} AS v1, ${rnd("v2", "l2")} AS v2,
                 |    ${rnd("v3", "l3")} AS v3, ${rnd("v4", "l4")} AS v4
                 |  FROM (SELECT doc_id, pos, B, n, i, v1, v2, v3, v4,
                 |          ${lane("(i+1)::BIGINT", 8)} AS l1, ${lane("(i+9)::BIGINT", 8)} AS l2,
                 |          ${lane("(i+17)::BIGINT", 8)} AS l3, ${lane("(i+25)::BIGINT", 8)} AS l4
                 |        FROM __rec WHERE i + 32 <= n))""".stripMargin
      ctes += "__lp AS (SELECT * FROM __rec QUALIFY row_number() OVER (PARTITION BY doc_id, pos ORDER BY i DESC) = 1)"
      val hInit = s"((${rotl("v1", 1)} + ${rotl("v2", 7)} + ${rotl("v3", 12)} + ${rotl("v4", 18)}) % $M)"
      ctes += s"""__m0 AS (SELECT doc_id, pos, B, n, i, v1, v2, v3, v4,
                 |  CASE WHEN n >= 32 THEN $hInit ELSE ${(seed + P5).mod(M)}::HUGEINT END AS h FROM __lp)""".stripMargin
      for (k <- 1 to 4)
        ctes += s"""__m$k AS (SELECT doc_id, pos, B, n, i, v1, v2, v3, v4,
                   |  CASE WHEN n >= 32 THEN ${merge("h", s"v$k")} ELSE h END AS h FROM __m${k - 1})""".stripMargin
      ctes += s"__hn AS (SELECT doc_id, pos, B, n, i, ((h + n) % $M) AS h FROM __m4)"
      var prev = "__hn"
      for (k <- 1 to 3) { // remainder < 32 bytes -> at most three 8-byte stripes
        ctes += s"""__t8$k AS (SELECT doc_id, pos, B, n,
                   |  CASE WHEN i + 8 <= n THEN ${stripe8("h", lane("(i+1)::BIGINT", 8))} ELSE h END AS h,
                   |  CASE WHEN i + 8 <= n THEN i + 8 ELSE i END AS i FROM $prev)""".stripMargin
        prev = s"__t8$k"
      }
      ctes += s"""__t4 AS (SELECT doc_id, pos, B, n,
                 |  CASE WHEN i + 4 <= n THEN ${stripe4("h", lane("(i+1)::BIGINT", 4))} ELSE h END AS h,
                 |  CASE WHEN i + 4 <= n THEN i + 4 ELSE i END AS i FROM $prev)""".stripMargin
      prev = "__t4"
      for (k <- 1 to 3) { // then at most three single bytes
        ctes += s"""__s$k AS (SELECT doc_id, pos, B, n,
                   |  CASE WHEN i < n THEN ${stripe1("h", "B[(i+1)::BIGINT]")} ELSE h END AS h,
                   |  CASE WHEN i < n THEN i + 1 ELSE i END AS i FROM $prev)""".stripMargin
        prev = s"__s$k"
      }
      ctes += s"__a1 AS (SELECT doc_id, pos, ${mulmod(xor("h", shr("h", 33)), P2)} AS h FROM $prev)"
      ctes += s"__a2 AS (SELECT doc_id, pos, ${mulmod(xor("h", shr("h", 29)), P3)} AS h FROM __a1)"
      ctes += s"__xh AS MATERIALIZED (SELECT doc_id, pos, ${xor("h", shr("h", 32))} AS h FROM __a2)"
      ctes.mkString(",\n")
    }
  }

  /** (doc_id, pos, tok) source for the XXH64 prelude: whitespace tokens of
    * trimmed text in position order — the `TextOps.tokens` mirror, with the
    * parallel-unnest trick supplying 1-based positions. */
  private val xxhTokSource: String =
    s"SELECT doc_id, unnest($tokExpr) AS tok, " +
      s"unnest(range(1, len($tokExpr) + 1)) AS pos FROM documents"

  /** SQL mirrors for the multimodal decode queries (q20/q21): the synthetic
    * media payloads are RECONSTRUCTED byte-for-byte in DuckDB (BMP/WAV
    * little-endian headers, PNG chunks with REAL CRC32s via an inline
    * 256-entry table fold), `MultimodalOps.sampleHash`'s strided signed-byte
    * fold runs in the unsigned HUGEINT domain, and the stub branch derives
    * its pseudo-metadata from that hash with Java `floorMod`/arithmetic-shift
    * semantics (the 2^64 offset is a multiple of 8 for the >>3/>>7 fields;
    * mod-3 and mod-240 need explicit +2 / −32 corrections). The oracle
    * therefore pins the ENCODE → DECODE round trip end to end: a header
    * parser bug and a generator bug can no longer cancel out. A corpus guard
    * (MultimodalOpsSpec) pins that no opaque text payload begins with a real
    * decoder's magic, so branch selection is exact. Validated hash-green at
    * sf0.01 and sf0.1. */
  private object MediaSql {
    private val M = "18446744073709551616"
    private val crcTable: IndexedSeq[Long] = (0 until 256).map { n =>
      var c = n.toLong
      for (_ <- 0 until 8)
        c = if ((c & 1L) == 1L) (c >>> 1) ^ 0xEDB88320L else c >>> 1
      c
    }
    private val crcIdat = { val c = new java.util.zip.CRC32(); c.update("IDAT".getBytes); c.getValue }
    private val crcIend = { val c = new java.util.zip.CRC32(); c.update("IEND".getBytes); c.getValue }
    private def le32(v: String) =
      s"[($v) % 256, (($v) // 256) % 256, (($v) // 65536) % 256, (($v) // 16777216) % 256]"
    private def le16(v: String) = s"[($v) % 256, (($v) // 256) % 256]"
    private def be32(v: String) =
      s"[(($v) // 16777216) % 256, (($v) // 65536) % 256, (($v) // 256) % 256, ($v) % 256]"
    private def be32c(v: Long) = s"[${(v >> 24) & 255}, ${(v >> 16) & 255}, ${(v >> 8) & 255}, ${v & 255}]"
    private def lit(bs: Int*) = bs.mkString("[", ",", "]")
    /** IEEE CRC32 over a 0..255 BIGINT byte-list expression (references the
      * `crct` CTE's table column `t`). */
    private def crc32(blist: String) =
      s"xor(list_reduce([4294967295::BIGINT] || ($blist), " +
        "(c, b) -> xor(c >> 8, t[(xor(c, b) & 255) + 1])), 4294967295)"
    /** `MultimodalOps.sampleHash`: h = h*31 + signedByte over indices
      * 0, step, 2·step … with step = max(1, n/64); unsigned mod-2^64 fold. */
    private def shash(slist: String, n: String) = {
      val step = s"greatest(1, ($n) // 64)"
      s"list_reduce([1125899906842597::HUGEINT] || " +
        s"list_transform(generate_series(0, ((($n) - 1) // ($step))::BIGINT), " +
        s"j -> (($slist)[(j * ($step)) + 1])::HUGEINT), " +
        s"(a, b) -> (a * 31 + b + $M) % $M)"
    }
    private def sgn(blist: String) =
      s"list_transform($blist, v -> (CASE WHEN v > 127 THEN v - 256 ELSE v END)::HUGEINT)"
    /** Java-signed byte value of the i-th (1-based) UTF-8 byte of the hex
      * dump column `hx` (shares [[XxhSql.hexByteU]]'s decode). */
    private val hexSignedByte = {
      val u = XxhSql.hexByteU
      s"(CASE WHEN $u > 127 THEN $u - 256 ELSE $u END)::HUGEINT"
    }
    private val ihdrT = lit(73, 72, 68, 82)
    private val actlT = lit(97, 99, 84, 76)
    /** The q20 mirror: one UNION ALL branch per payload family of
      * `MultimodalOps.syntheticMedia`. */
    val q20Sql: String = s"""WITH crct AS (SELECT ${crcTable.mkString("[", ",", "]")} AS t),
m0 AS (
  SELECT doc_id,
    ${lit(66, 77)} || ${le32("54")} || ${lit(0, 0, 0, 0)} || ${le32("54")} || ${le32("40")}
      || ${le32("w")} || ${le32("h")} || ${lit(1, 0)} || ${lit(24, 0)} || ${lit(Seq.fill(24)(0): _*)} AS bl,
    54 AS n_bytes, 'image' AS media_type, w AS width, h AS height, 1 AS n_frames
  FROM (SELECT doc_id, 64 + (doc_id % 13) * 16 AS w, 48 + (doc_id % 7) * 16 AS h
        FROM documents WHERE doc_id % 6 = 0)),
m1p AS (
  SELECT doc_id, w, h, fr,
    ${be32("w")} || ${be32("h")} || ${lit(8, 2, 0, 0, 0)} AS ihdr,
    ${be32("fr")} || ${lit(0, 0, 0, 0)} AS actl
  FROM (SELECT doc_id, 80 + (doc_id % 11) * 16 AS w, 60 + (doc_id % 5) * 12 AS h,
               CASE WHEN doc_id % 4 = 1 THEN 2 + (doc_id % 9) ELSE 1 END AS fr
        FROM documents WHERE doc_id % 6 = 1)),
m1 AS (
  SELECT doc_id,
    ${lit(137, 80, 78, 71, 13, 10, 26, 10)}
      || ${lit(0, 0, 0, 13)} || $ihdrT || ihdr || ${be32(crc32(s"$ihdrT || ihdr"))}
      || CASE WHEN fr > 1
           THEN ${lit(0, 0, 0, 8)} || $actlT || actl || ${be32(crc32(s"$actlT || actl"))}
           ELSE []::BIGINT[] END
      || ${lit(0, 0, 0, 0)} || ${lit(73, 68, 65, 84)} || ${be32c(crcIdat)}
      || ${lit(0, 0, 0, 0)} || ${lit(73, 69, 78, 68)} || ${be32c(crcIend)} AS bl,
    CASE WHEN fr > 1 THEN 77 ELSE 57 END AS n_bytes,
    'image' AS media_type, w AS width, h AS height, fr AS n_frames
  FROM m1p, crct),
m3 AS (
  SELECT doc_id,
    ${lit(82, 73, 70, 70)} || ${le32("36 + nf * 4")} || ${lit(87, 65, 86, 69)}
      || ${lit(102, 109, 116, 32)} || ${le32("16")} || ${lit(1, 0)} || ${le16("2")}
      || ${le32("sr")} || ${le32("sr * 4")} || ${lit(4, 0)} || ${lit(16, 0)}
      || ${lit(100, 97, 116, 97)} || ${le32("nf * 4")} AS bl,
    44 AS n_bytes, 'audio' AS media_type, sr AS width, 16 AS height, nf AS n_frames
  FROM (SELECT doc_id, 8000 * (1 + (doc_id % 3)) AS sr, 1000 + (doc_id % 500) AS nf
        FROM documents WHERE doc_id % 6 = 3)),
realm AS (
  SELECT doc_id, n_bytes, media_type, width, height, n_frames,
         ${XxhSql.signed(shash(sgn("bl"), "len(bl)"))} AS sample_hash
  FROM (SELECT * FROM m0 UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m3)),
sb AS (
  SELECT doc_id, n, ${shash("B", "n")} AS hu
  FROM (
    SELECT doc_id, n, list_transform(range(1, n + 1), i -> $hexSignedByte) AS B
    FROM (SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS hx
          FROM documents WHERE doc_id % 6 IN (2, 4, 5)) q)),
stub AS (
  SELECT doc_id, n AS n_bytes,
    CASE fm3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
    (320 + ((hu // 8) % 8) * 160) AS width,
    (240 + ((hu // 128) % 8) * 120) AS height,
    (CASE WHEN fm3 = 2 THEN 1 + fm240 ELSE 1 END) AS n_frames,
    ${XxhSql.signed("hu")} AS sample_hash
  FROM (
    SELECT doc_id, n, hu,
      (CASE WHEN hu >= 9223372036854775808 THEN ((hu % 3) + 2) % 3 ELSE hu % 3 END) AS fm3,
      (CASE WHEN hu >= 9223372036854775808 THEN ((hu // 2048) % 240 + 208) % 240
            ELSE (hu // 2048) % 240 END) AS fm240
    FROM sb))
SELECT doc_id, n_bytes::INT AS n_bytes, media_type, width::INT AS width,
       height::INT AS height, n_frames::INT AS n_frames, sample_hash
FROM (SELECT * FROM realm UNION ALL SELECT * FROM stub)"""
    /** The q21 mirror: stub "video" rows fan out one row per sampled frame,
      * frame_hash = sample_hash XOR (frame_idx · 2654435761). */
    val q21Sql: String = s"""WITH meta AS ($q20Sql),
v AS (SELECT doc_id, n_frames, ${XxhSql.unsigned("sample_hash")} AS hu
      FROM meta WHERE media_type = 'video')
SELECT doc_id, (f * 30)::INT AS frame_idx,
  ${XxhSql.signed("xor(hu::UBIGINT, ((f * 30) * 2654435761)::UBIGINT)::HUGEINT")} AS frame_hash
FROM v, unnest(generate_series(0, ((n_frames - 1) // 30)::BIGINT)) AS u(f)"""
  }

  /** The exact near-dup transitive closure (3-shingle Jaccard >= 0.8,
    * length-ratio prefilter, UNION-recursive min-label reachability) as a
    * WITH-RECURSIVE body ending in `reach(node, comp)` — shared by the q55
    * pipeline mirror and q153's per-source report so the closure math
    * lives once. */
  private lazy val dedupClosureCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $tokExpr AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(t) - 2),
       |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       |  FROM toks),
       |p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
       |    AND CAST(least(len(a.s), len(b.s)) AS DOUBLE) /
       |        greatest(len(a.s), len(b.s), 1) >= 0.8
       |    AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |        greatest(len(list_distinct(a.s || b.s)), 1), 6) >= 0.8),
       |e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS comp FROM toks
       |  UNION
       |  SELECT e.b AS node, r.comp FROM e JOIN reach r ON e.a = r.node)""".stripMargin

  /** q118's bigram-LM perplexity mirror, factored so q134's percentile gate
    * wraps it verbatim — any change to [[graft.ops.TextOps.lmScore]]'s op
    * order updates BOTH oracles here. */
  private lazy val q118MirrorSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter($tokExpr, tk -> len(tk) > 0) AS t
       |  FROM documents),
       |uni AS (
       |  SELECT tok, count(*) AS c1
       |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
       |vc AS (SELECT count(*) AS v FROM uni),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
       |    i -> struct_pack(pos := i, t1 := t[i],
       |      g := concat_ws(' ', t[i], t[i+1])))) AS s
       |  FROM toks),
       |g2 AS (SELECT doc_id, s.pos AS pos, s.t1 AS t1, s.g AS g FROM g),
       |bi AS (SELECT g, count(*) AS c2 FROM g2 GROUP BY 1),
       |terms AS (
       |  SELECT g2.doc_id, g2.pos,
       |    ln((bi.c2 + 0.5) / (uni.c1 + 0.5 * vc.v)) AS term
       |  FROM g2 JOIN bi USING (g) JOIN uni ON uni.tok = g2.t1 CROSS JOIN vc),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY pos)),
       |      (acc, x) -> acc + x) AS s
       |  FROM terms GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CASE WHEN a.n_bigrams > 0 THEN round(-(a.s) / a.n_bigrams, 6) END AS xent,
       |  CASE WHEN a.n_bigrams > 0 THEN round(exp(-(a.s) / a.n_bigrams), 6) END AS ppl
       |FROM toks d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** q46's EWMA oracle: an EXACT FP MIRROR of the engine's segmented scan
    * (phase-1 recursive chunk prefixes, phase-2 chunk walk, phase-3
    * finalize — identical IEEE op order, raw doubles). Shared verbatim by
    * q72, which extends it with the lagged residual + 3-sigma flag. */
  private val q46MirrorSql: String =
    """WITH RECURSIVE ord AS (
      |  SELECT event_id, user_id, epoch_ms(ts) AS tms, value,
      |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS bucket
      |  FROM events
      |), rord AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, bucket
      |    ORDER BY tms, event_id) AS rn FROM ord
      |), rec AS (
      |  SELECT user_id, bucket, 0::BIGINT AS rn, NULL::BIGINT AS event_id,
      |    NULL::BIGINT AS tms, NULL::DOUBLE AS value,
      |    1.0::DOUBLE AS c, 0.0::DOUBLE AS d
      |  FROM (SELECT DISTINCT user_id, bucket FROM rord)
      |  UNION ALL
      |  SELECT o.user_id, o.bucket, o.rn, o.event_id, o.tms, o.value,
      |    r.c * (1.0 - 0.3) AS c,
      |    (1.0 - 0.3) * r.d + 0.3 * o.value AS d
      |  FROM rord o JOIN rec r
      |    ON o.user_id = r.user_id AND o.bucket = r.bucket AND o.rn = r.rn + 1
      |), chk AS (
      |  SELECT user_id, bucket, max_by(c, rn) AS c, max_by(d, rn) AS d,
      |    min_by(value, rn) AS firstval,
      |    row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS ci
      |  FROM rec WHERE rn >= 1 GROUP BY user_id, bucket
      |), scan AS (
      |  SELECT user_id, bucket, ci, firstval AS y, c, d FROM chk WHERE ci = 1
      |  UNION ALL
      |  SELECT k.user_id, k.bucket, k.ci, s.c * s.y + s.d AS y, k.c, k.d
      |  FROM chk k JOIN scan s ON k.user_id = s.user_id AND k.ci = s.ci + 1
      |)
      |SELECT p.event_id, p.user_id, make_timestamp(p.tms * 1000) AS ts,
      |  p.value, p.c * s.y + p.d AS ewma
      |FROM rec p JOIN scan s ON p.user_id = s.user_id AND p.bucket = s.bucket
      |WHERE p.rn >= 1""".stripMargin

  /** Generated DuckDB oracle for q145: the truncated-RBO weight table is
    * computed ONCE ([[graft.ops.AnalyticsOps.rboWeights]]) and embedded
    * here as shortest-round-trip double literals, so both engines fold the
    * IDENTICAL doubles in the identical (m, item) order — machine-generated
    * like the q50 mirror so the two copies cannot drift. */
  private lazy val q145MirrorSql: String = {
    val cases = ops.AnalyticsOps.rboWeights(10, 0.9).zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN ${java.lang.Double.toString(w)}" }
      .mkString(" ")
    s"""WITH c AS (
       |  SELECT epoch_ms(date_trunc('day', ts)) AS period,
       |    user_id AS item, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |r AS (
       |  SELECT period, item,
       |    row_number() OVER (PARTITION BY period ORDER BY cnt DESC, item)
       |      AS rnk
       |  FROM c QUALIFY rnk <= 10),
       |m AS (
       |  SELECT r.period, r.item, greatest(r.rnk, pr.rnk) AS m,
       |    CASE greatest(r.rnk, pr.rnk) $cases END AS wgt
       |  FROM r JOIN r pr ON pr.item = r.item
       |    AND pr.period = r.period - 86400000),
       |f AS (
       |  SELECT period, count(*) AS overlap_k,
       |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
       |      list(struct_pack(m := m, item := item, wgt := wgt)
       |        ORDER BY m, item), t -> t.wgt)), (a, b) -> a + b) AS s
       |  FROM m GROUP BY 1),
       |pairs AS (
       |  SELECT period FROM (SELECT DISTINCT period FROM r)
       |  WHERE period - 86400000 IN (SELECT DISTINCT period FROM r))
       |SELECT pairs.period AS day_ms,
       |  coalesce(f.overlap_k, 0) AS overlap_k,
       |  (1.0 - 0.9) * coalesce(f.s, 0.0) AS rbo
       |FROM pairs LEFT JOIN f USING (period)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q01_rollup_1m" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, date_trunc('minute', ts) AS bucket_start,
        | count(*) AS cnt, round(sum(value),6) AS sum_val, round(min(value),6) AS min_val,
        | round(max(value),6) AS max_val, round(avg(value),6) AS mean_val
        |FROM events GROUP BY 1,2""".stripMargin,

    "q02_rollup_1h_kernel" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, date_trunc('hour', ts) AS bucket_start,
        | count(*) AS cnt, round(sum(value),6) AS sum_val, round(min(value),6) AS min_val,
        | round(max(value),6) AS max_val, round(avg(value),6) AS mean_val
        |FROM events GROUP BY 1,2""".stripMargin,

    "q03_rollup_1d_cascade" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, date_trunc('day', ts) AS bucket_start,
        | count(*) AS cnt, round(sum(value),6) AS sum_val, round(min(value),6) AS min_val,
        | round(max(value),6) AS max_val, round(avg(value),6) AS mean_val
        |FROM events GROUP BY 1,2""".stripMargin,

    "q04_gapfill_1h" ->
      """WITH agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('hour', ts) AS bucket,
        |         avg(value) AS mean
        |  FROM events GROUP BY 1,2),
        |spans AS (
        |  SELECT key, unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 HOUR)) AS bucket
        |  FROM agg GROUP BY key)
        |SELECT s.key, s.bucket,
        |  round(last_value(a.mean IGNORE NULLS) OVER (
        |    PARTITION BY s.key ORDER BY s.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS mean,
        |  a.mean IS NULL AS gap_filled
        |FROM spans s LEFT JOIN agg a ON s.key = a.key AND s.bucket = a.bucket""".stripMargin,

    "q05_dedup_exact" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q06_token_stats" ->
      s"""SELECT doc_id,
         | len($tokExpr) AS n_tokens,
         | CAST(list_sum(list_transform($tokExpr, t -> CAST(ceil(length(t)/4.0) AS BIGINT))) AS BIGINT) AS n_subtokens,
         | length(text) AS n_chars
         |FROM documents""".stripMargin,

    "q07_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars, len($tokExpr) AS n_tokens,
         | round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         | round(CAST(len(list_filter($tokExpr, t -> t IN ('the','a','of','to','and','in','is','it','that','for'))) AS DOUBLE) / greatest(len($tokExpr), 1), 6) AS stop_ratio,
         | round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / greatest(len($tokExpr), 1), 6) AS mean_word_len,
         | (length(text) >= 100 AND len($tokExpr) >= 20
         |   AND round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / greatest(len($tokExpr), 1), 6) <= 15.0) AS keep
         |FROM documents""".stripMargin,

    "q08_langid" ->
      s"""SELECT doc_id,
         | len(list_filter($tokExpr, t -> t IN ('the','a','of','to','and','in','is','it','that','for'))) AS en_hits,
         | len(list_filter($tokExpr, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS de_hits,
         | len(list_filter($tokExpr, t -> t IN ('le','la','les','et','est','un','une','de','que','pour'))) AS fr_hits,
         | CASE WHEN len(list_filter($tokExpr, t -> t IN ('the','a','of','to','and','in','is','it','that','for'))) >= len(list_filter($tokExpr, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','von')))
         |       AND len(list_filter($tokExpr, t -> t IN ('the','a','of','to','and','in','is','it','that','for'))) >= len(list_filter($tokExpr, t -> t IN ('le','la','les','et','est','un','une','de','que','pour')))
         |      THEN 'en'
         |      WHEN len(list_filter($tokExpr, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) >= len(list_filter($tokExpr, t -> t IN ('le','la','les','et','est','un','une','de','que','pour')))
         |      THEN 'de' ELSE 'fr' END AS lang_pred
         |FROM documents""".stripMargin,

    "q09_topk_cosine" ->
      """SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5""".stripMargin,

    "q10_type_churn" ->
      """SELECT user_id, date_trunc('day', ts) AS day,
        | CAST(sum(CASE WHEN prev_type IS NOT NULL AND prev_type <> event_type THEN 1 ELSE 0 END) AS BIGINT) AS churn
        |FROM (SELECT user_id, ts, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |      FROM events)
        |GROUP BY 1,2""".stripMargin,

    "q11_resume_antijoin" ->
      """SELECT user_id, count(*) AS cnt, round(sum(value),6) AS sum_val
        |FROM events WHERE user_id % 3 <> 0 GROUP BY 1""".stripMargin,

    "q12_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice * (1.0 - l_discount)),2) AS revenue, count(*) AS cnt
        |FROM lineitem GROUP BY 1,2""".stripMargin,

    "q26_state_transitions" ->
      """SELECT user_id, prev AS from_state, event_type AS to_state,
        | count(*) AS cnt,
        | round(CAST(count(*) AS DOUBLE) /
        |   sum(count(*)) OVER (PARTITION BY user_id, prev), 6) AS prob
        |FROM (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |      FROM events)
        |WHERE prev IS NOT NULL
        |GROUP BY 1,2,3""".stripMargin,

    "q29_jaccard_exact" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokExpr AS t FROM documents WHERE doc_id < 60),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
         |  FROM toks)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    greatest(len(list_distinct(a.s || b.s)), 1), 6) AS jaccard
         |FROM sh a, sh b WHERE a.doc_id < b.doc_id""".stripMargin,

    // EXACT all-pairs ground truth for the banded-LSH pair query. Valid
    // as an oracle on this corpus because every true J >= 0.5 pair sits at
    // J >= 0.9 (clones at 1.0, near-dups at [0.9, 1)), where 4x4-band
    // MinHash recall was measured COMPLETE (engine pair set == exact pair
    // set, checked at sf0.001 and sf0.01) — same regime argument as q55's
    // exact-closure oracle. The jaccard division mirrors the engine's
    // (intersect / union, one double division, round 6) so the doubles are
    // bit-identical; string shingles here vs 64-bit hashed shingles in the
    // engine agree because per-doc hash collisions are ~|sh|^2 / 2^64.
    "q16_minhash_pairs" ->
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000 AS doc_id, text FROM documents),
         |toks AS (SELECT doc_id, $tokExpr AS t FROM uni),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
         |  FROM toks)
         |SELECT * FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |      greatest(len(list_distinct(a.s || b.s)), 1), 6) AS jaccard
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5""".stripMargin,

    // EXACT all-pairs ground truth for the RHP-LSH embedding near-dup
    // query. Valid as an oracle on this corpus because the only true
    // cos >= 0.95 pairs are the vec/clone pairs at cos = 1.0 (measured: no
    // cross pair reaches even 0.9 at sf0.001/sf0.01), and identical
    // embeddings have identical RHP signatures, so every 8-bit chunk
    // collides — recall is structurally 1, not probabilistic. The sim
    // division mirrors the engine's cosine (double accumulate over float
    // components, one division, round 6) like q09's oracle.
    "q18_lsh_neardup_emb" ->
      """WITH uni AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000000 AS vec_id, embedding FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM uni a, uni b WHERE a.vec_id < b.vec_id)
        |WHERE sim >= 0.95""".stripMargin,

    // The q55 closure pattern over the EXACT all-pairs cosine graph: valid
    // on this corpus for the same reason as q18's oracle (the only true
    // cos >= 0.95 pairs are identical clones, where RHP recall is
    // structural), and the UNION-recursive reachability mirrors
    // connectedComponents' min-label semantics exactly.
    "q151_embed_dedup" ->
      """WITH RECURSIVE uni AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000000 AS vec_id, embedding FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM uni a, uni b WHERE a.vec_id < b.vec_id
        |    AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) >= 0.95),
        |e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |reach AS (
        |  SELECT vec_id AS node, vec_id AS comp FROM uni
        |  UNION
        |  SELECT e.b AS node, r.comp FROM e JOIN reach r ON e.a = r.node)
        |SELECT node AS vec_id, min(comp) AS canonical,
        |  node = min(comp) AS keep
        |FROM reach GROUP BY node""".stripMargin,

    // The q09 exact all-pairs pattern with the language-mismatch
    // predicate: every similarity is computed in full (no LSH), so the
    // mirror is exact by construction like q09's.
    "q152_crosslingual_topk" ->
      """WITH lg AS (SELECT doc_id AS vec_id, lang FROM documents),
        |e AS (SELECT m.vec_id, m.embedding, l.lang
        |      FROM embeddings m JOIN lg l USING (vec_id))
        |SELECT query_id, neighbor_id, neighbor_lang, sim, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         c.lang AS neighbor_lang,
        |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |           CAST(c.embedding AS DOUBLE[])), 6) AS sim,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |             CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
        |  FROM e q, e c WHERE q.vec_id < 8 AND q.lang <> c.lang)
        |WHERE rank <= 5""".stripMargin,

    // Full value oracle via the pure-SQL XXH64 mirror (XxhSql): per token
    // hash, bit i of the simhash is set iff sum over tokens of
    // (+1 if hash bit i else -1) > 0 — EXACTLY the engine's sign-sum
    // (SimHash64Function / simhashFromHashes, spec-proven equivalent).
    // Tokens of length 0 are dropped on both sides (the engine's tokenizer
    // skips them; the corpus has none — whole-whitespace docs would be the
    // only source). Zero-token docs fall back to simhash 0 via the LEFT
    // JOIN coalesce, matching the engine's empty sign-sum.
    "q17_simhash" -> {
      val bits = (0 until 64).map { i =>
        s"(CASE WHEN sum(CASE WHEN (h // ${BigInt(1) << i}) % 2 = 1 THEN 1 ELSE -1 END) > 0" +
          s" THEN ${BigInt(1) << i}::HUGEINT ELSE 0::HUGEINT END)"
      }.mkString(" + ")
      s"""WITH RECURSIVE ${XxhSql.prelude(s"SELECT doc_id, tok, pos FROM ($xxhTokSource) WHERE length(tok) > 0")},
         |__sh AS (SELECT doc_id, ($bits) AS u FROM __xh GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(${XxhSql.signed("s.u")}, 0)::BIGINT AS simhash64
         |FROM documents d LEFT JOIN __sh s USING (doc_id)""".stripMargin
    },

    // Full value oracle via the pure-SQL XXH64 mirror: the rolling
    // fingerprint is the ordered fold acc = (acc << 5) XOR (acc >>> 2
    // arithmetic) XOR hash(token) in Java-long semantics — mirrored in the
    // unsigned HUGEINT domain ((acc*32) mod 2^64; arithmetic shift
    // sign-extends by adding 3*2^62 when the sign bit is set) and advanced
    // one token per recursion step; min_token_hash is the SIGNED min of the
    // token hashes, exactly TextOps.fingerprint's array_min. The token
    // source keeps empty tokens (the engine's `tokens()` has no filter),
    // matching split semantics on whole-whitespace text.
    "q22_fingerprint" -> {
      val shl5 = "((f.acc * 32) % 18446744073709551616)"
      val asr2 = "(CASE WHEN f.acc >= 9223372036854775808 " +
        "THEN f.acc // 4 + 13835058055282163712 ELSE f.acc // 4 END)"
      val comb = s"xor(xor(($shl5)::UBIGINT, ($asr2)::UBIGINT)::HUGEINT::UBIGINT, x.h::UBIGINT)::HUGEINT"
      s"""WITH RECURSIVE ${XxhSql.prelude(xxhTokSource)},
         |__fp AS (
         |  SELECT doc_id, 0::BIGINT AS pos, 0::HUGEINT AS acc FROM documents
         |  UNION ALL
         |  SELECT f.doc_id, f.pos + 1, $comb AS acc
         |  FROM __fp f JOIN __xh x ON x.doc_id = f.doc_id AND x.pos = f.pos + 1),
         |__fl AS (SELECT doc_id, acc FROM __fp
         |         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY pos DESC) = 1),
         |__mn AS (SELECT doc_id, min(${XxhSql.signed("h")}) AS mn FROM __xh GROUP BY doc_id)
         |SELECT f.doc_id, ${XxhSql.signed("f.acc")} AS rolling_fp, m.mn AS min_token_hash
         |FROM __fl f JOIN __mn m USING (doc_id)""".stripMargin
    },

    // Byte-level reconstruction of the synthetic media table + closed-form
    // metadata + the strided sampleHash fold — pins encoder AND header
    // decoder against an independent recomputation (see MediaSql).
    "q20_media_meta" -> MediaSql.q20Sql,

    // Video frame fan-out over q20's mirror (stride 30, golden-ratio XOR).
    "q21_frame_samples" -> MediaSql.q21Sql,

    // PCM square-wave features have closed forms: every mono sample is
    // ±amplitude so per-frame RMS = amplitude EXACTLY (sqrt of a perfect
    // square); crossings in frame f = multiples of the half-period in
    // (256f, 256f+255], i.e. an integer floor-difference; mean_zcr mirrors
    // the engine's avg as a left fold over frames in order / frame count
    // (all rows of a doc flow through one partial aggregate in frame
    // order, so the double sum order is identical).
    "q67_audio_features" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         (1024 + (doc_id % 7) * 256) // 256 AS F,
        |         2 + (doc_id % 14) AS h2,
        |         (4000 + (doc_id % 16) * 500)::DOUBLE AS amp
        |  FROM documents)
        |SELECT doc_id, F::BIGINT AS n_frames,
        |  round(amp, 6) AS mean_rms,
        |  round(list_reduce(
        |          [0.0::DOUBLE] || list_transform(generate_series(0, (F-1)::BIGINT),
        |            f -> (((256*f + 255) // h2 - (256*f) // h2))::DOUBLE / 255.0),
        |          (a, b) -> a + b) / F::DOUBLE, 6) AS mean_zcr
        |FROM p""".stripMargin,

    // The synthetic BMP pixel field (B=x, G=g0, R=y) gives every channel
    // mean a closed form (integer sums are exact in doubles, and the final
    // divisions land on exactly-representable halves); the 8x8 aHash pool
    // is mirrored in the ENGINE'S EXACT FP ORDER — per cell a left fold of
    // (x+y+g0)/3.0 in raster order, then the grand mean as a left fold over
    // cells in k order — because near-tie cells (exact ties exist, e.g.
    // 40x24 images) make the > comparison FP-order-sensitive.
    "q71_image_features" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         32 + (doc_id % 5) * 8 AS w,
        |         24 + (doc_id % 3) * 8 AS h,
        |         (doc_id % 200)::BIGINT AS g0
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, g0, (w // 8) AS cw, (h // 8) AS ch,
        |         unnest(generate_series(0, 63)) AS k
        |  FROM p),
        |cellv AS (
        |  SELECT doc_id, w, h, g0, k,
        |    list_reduce(
        |      [0.0::DOUBLE] || list_transform(generate_series(0, (cw*ch - 1)::BIGINT),
        |        t -> (((k % 8) * cw + (t % cw)) + ((k // 8) * ch + (t // cw)) + g0)::DOUBLE / 3.0),
        |      (a, b) -> a + b) / (cw*ch)::DOUBLE AS cell
        |  FROM cells),
        |agg AS (
        |  SELECT doc_id, w, h, g0, list(cell ORDER BY k) AS cl
        |  FROM cellv GROUP BY 1, 2, 3, 4),
        |fin AS (
        |  SELECT doc_id, w, h, g0, cl,
        |    list_reduce([0.0::DOUBLE] || cl, (a, b) -> a + b) / 64.0 AS grand
        |  FROM agg)
        |SELECT doc_id, w AS width, h AS height,
        |  round((h - 1)::DOUBLE / 2.0 + 0.0, 6) AS mean_r,
        |  round(g0::DOUBLE + 0.0, 6) AS mean_g,
        |  round((w - 1)::DOUBLE / 2.0 + 0.0, 6) AS mean_b,
        |  (CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END)::BIGINT AS ahash
        |FROM (
        |  SELECT doc_id, w, h, g0,
        |    list_reduce([0::HUGEINT] || list_transform(generate_series(1, 64),
        |      k -> CASE WHEN cl[k] > grand THEN (2::HUGEINT ^ (k-1))::HUGEINT ELSE 0::HUGEINT END),
        |      (a, b) -> a + b) AS u
        |  FROM fin)""".stripMargin,

    "q33_m4_downsample" ->
      """WITH b AS (
        |  SELECT event_id, user_id, date_trunc('day', ts) AS bucket, ts, value
        |  FROM events),
        |m AS (
        |  SELECT user_id, bucket, min(ts) AS mnt, max(ts) AS mxt,
        |         min(value) AS mnv, max(value) AS mxv
        |  FROM b GROUP BY 1, 2)
        |SELECT b.event_id, b.user_id, b.bucket, b.ts, round(b.value, 6) AS value
        |FROM b JOIN m ON b.user_id = m.user_id AND b.bucket = m.bucket
        |WHERE b.ts = m.mnt OR b.ts = m.mxt OR b.value = m.mnv OR b.value = m.mxv""".stripMargin,

    "q32_asof_enrich" ->
      """WITH p AS (
        |  SELECT user_id, ts, max(value) AS last_purchase
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts, round(p.last_purchase, 6) AS last_purchase
        |FROM events l ASOF LEFT JOIN p
        |  ON l.user_id = p.user_id AND l.ts >= p.ts""".stripMargin,

    "q30_rollup_gapfill_1h" ->
      """WITH agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id, date_trunc('hour', ts) AS bucket,
        |         count(*) AS cnt, min(value) AS mn, max(value) AS mx, avg(value) AS mean
        |  FROM events GROUP BY 1,2),
        |spans AS (
        |  SELECT user_id, unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 HOUR)) AS bucket
        |  FROM agg GROUP BY user_id),
        |j AS (
        |  SELECT s.user_id, s.bucket, a.cnt, a.mn, a.mx,
        |    last_value(a.mean IGNORE NULLS) OVER (
        |      PARTITION BY s.user_id ORDER BY s.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
        |    a.mean IS NULL AS gap_filled
        |  FROM spans s LEFT JOIN agg a ON s.user_id = a.user_id AND s.bucket = a.bucket)
        |SELECT user_id, bucket AS bucket_start, coalesce(cnt, 0) AS cnt,
        |  round(locf, 6) AS mean_val,
        |  round(coalesce(mn, locf), 6) AS min_val,
        |  round(coalesce(mx, locf), 6) AS max_val, gap_filled
        |FROM j""".stripMargin,

    "q36_gapfill_linear" ->
      """WITH agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('hour', ts) AS bucket,
        |         avg(value) AS mean
        |  FROM events GROUP BY 1,2),
        |spans AS (
        |  SELECT key, unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 HOUR)) AS bucket
        |  FROM agg GROUP BY key),
        |j AS (
        |  SELECT s.key, s.bucket, a.mean AS raw,
        |    last_value(a.mean IGNORE NULLS) OVER wp AS prev_v,
        |    last_value(CASE WHEN a.mean IS NOT NULL THEN s.bucket END IGNORE NULLS) OVER wp AS prev_t,
        |    first_value(a.mean IGNORE NULLS) OVER wn AS next_v,
        |    first_value(CASE WHEN a.mean IS NOT NULL THEN s.bucket END IGNORE NULLS) OVER wn AS next_t
        |  FROM spans s LEFT JOIN agg a ON s.key = a.key AND s.bucket = a.bucket
        |  WINDOW wp AS (PARTITION BY s.key ORDER BY s.bucket
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY s.key ORDER BY s.bucket
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT key, bucket,
        |  round(CASE WHEN raw IS NOT NULL THEN raw
        |             WHEN next_v IS NULL THEN prev_v
        |             WHEN prev_v IS NULL THEN next_v
        |             ELSE prev_v + (next_v - prev_v) * (epoch(bucket) - epoch(prev_t))
        |                  / (epoch(next_t) - epoch(prev_t)) END, 8) AS mean,
        |  raw IS NULL AS gap_filled
        |FROM j""".stripMargin,

    "q37_retention_expiry" ->
      """WITH t AS (
        |  SELECT '1m' AS tier, CAST(user_id AS VARCHAR) AS key,
        |         date_trunc('minute', ts) AS bucket_start, count(*) AS cnt
        |  FROM events GROUP BY 2,3
        |  UNION ALL
        |  SELECT '1h', CAST(user_id AS VARCHAR), date_trunc('hour', ts), count(*)
        |  FROM events GROUP BY 2,3
        |  UNION ALL
        |  SELECT '1d', CAST(user_id AS VARCHAR), date_trunc('day', ts), count(*)
        |  FROM events GROUP BY 2,3),
        |a AS (SELECT max(epoch_ms(bucket_start)) AS anchor_ms FROM t)
        |SELECT tier, count(*) AS kept_rows, CAST(sum(cnt) AS BIGINT) AS kept_events,
        |  min(bucket_start) AS min_bucket, max(bucket_start) AS max_bucket
        |FROM t, a
        |WHERE anchor_ms - epoch_ms(bucket_start) <=
        |  CASE tier WHEN '1m' THEN 259200000 WHEN '1h' THEN 1209600000
        |       ELSE 9223372036854775807 END
        |GROUP BY 1""".stripMargin,

    "q38_sessionize" ->
      """WITH b AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY 1,2""".stripMargin,

    "q39_percentile_rollup" ->
      """SELECT user_id, date_trunc('day', ts) AS day, count(*) AS cnt,
        |  round(quantile_cont(value, 0.5), 8) AS p50,
        |  round(quantile_cont(value, 0.95), 8) AS p95,
        |  count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1,2""".stripMargin,

    "q40_top_event_types" ->
      """SELECT user_id, event_type, count, rank FROM (
        |  SELECT user_id, event_type, count(*) AS count,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type) AS rank
        |  FROM events GROUP BY 1,2)
        |WHERE rank <= 3""".stripMargin,

    "q41_delta_rate" ->
      """SELECT event_id, user_id, ts,
        |  round(value - lag(value) OVER w, 6) AS delta,
        |  round(CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 0
        |        THEN (value - lag(value) OVER w)
        |             / ((epoch_ms(ts) - epoch_ms(lag(ts) OVER w)) / 1000.0)
        |        END, 8) AS rate
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q42_zscore_outliers" ->
      """WITH s AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |         avg(value) AS mu, stddev_pop(value) AS sd
        |  FROM events GROUP BY 1,2)
        |SELECT e.event_id, e.user_id, s.day,
        |  round((e.value - s.mu) / s.sd, 6) AS z
        |FROM events e JOIN s
        |  ON e.user_id = s.user_id AND date_trunc('day', e.ts) = s.day
        |WHERE s.sd > 0 AND abs((e.value - s.mu) / s.sd) > 2.5""".stripMargin,

    "q43_value_histogram" ->
      """SELECT user_id, date_trunc('day', ts) AS day,
        |  CAST(floor(value / 10.0) AS BIGINT) AS bin, count(*) AS cnt,
        |  round(min(value), 6) AS bin_min, round(max(value), 6) AS bin_max
        |FROM events GROUP BY 1,2,3""".stripMargin,

    // EXACT-REGIME oracle for the GK-summary percentiles: with accuracy
    // 1000, Spark's QuantileSummaries never compresses groups this small
    // (every (user, day) holds <= ~30 values at both bench SFs), so
    // percentile_approx returns EXACTLY the sorted group's element at
    // 1-based rank ceil(p*n) — verified against all 4,006 sf0.01 and
    // 40,083 sf0.1 groups. At true 100-TB group sizes the summary
    // compresses and this mirror stops being exact — which is q44's
    // POINT (the sketch is the scale path); the oracle pins the
    // exact-regime contract like q119/q122's set-algebra oracles.
    "q44_sketch_percentiles" ->
      """WITH g AS (SELECT user_id, date_trunc('day', ts) AS day,
        |                  count(*)::BIGINT AS cnt, list(value ORDER BY value) AS vs
        |           FROM events GROUP BY 1, 2)
        |SELECT user_id, day, cnt,
        |  vs[ceil(0.5 * cnt)::INT] AS p50_approx,
        |  vs[ceil(0.95 * cnt)::INT] AS p95_approx
        |FROM g""".stripMargin,

    // EWMA oracle as an EXACT FP MIRROR of the engine's segmented scan
    // (not the sequential recurrence, which reassociates differently and
    // flips round boundaries): recursive CTE `rec` = phase-1 chunk-prefix
    // affines c*=β, d=βd+αx in (ms-ts, event_id) order; `chk` = chunk-final
    // affine + first value; `scan` = phase-2 per-key chunk walk y' = c·y+d;
    // final = phase-3 cPre·yIn + dPre. Identical IEEE op order per phase →
    // bit-identical raw doubles, no rounding needed. (A struct list_reduce
    // formulation is avoided deliberately: DuckDB 1.0 miscomputes lambdas
    // whose struct fields repeat an acc subexpression.)
    "q46_ewma" -> q46MirrorSql,

    // the q46 mirror's bit-identical ewma values, extended with the lagged
    // one-step residual and the per-user 3-sigma flag (q72's engine shape)
    "q72_ewma_anomaly" ->
      s"""WITH base AS (
         |$q46MirrorSql
         |), res AS (
         |  SELECT *, value - lag(ewma) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS resid
         |  FROM base),
         |st AS (
         |  SELECT user_id, stddev_pop(resid) AS sd FROM res
         |  WHERE resid IS NOT NULL GROUP BY user_id)
         |SELECT r.event_id, r.user_id, r.ts, r.value, r.ewma, r.resid,
         |  coalesce(abs(r.resid) > 3.0 * s.sd, FALSE) AS is_anomaly
         |FROM res r LEFT JOIN st s USING (user_id)""".stripMargin,

    // Holt level+trend oracle as an EXACT FP MIRROR of the engine's scan:
    // phase-1 CTE carries the 2×2 prefix matrix + offset (the engine's
    // exact coefficient expressions, e.g. a10 = (-0.3)*0.1, a11 = 1-0.3*0.1),
    // phase-2 walks chunk summaries (l,b), phase-3 finalizes m·state+d —
    // identical IEEE op order → bit-identical raw doubles.
    "q49_holt_trend" -> holtMirrorSql("0.3", "0.1", "1.0"),

    // damped-trend Holt: same generated mirror, phi = 0.9
    "q89_damped_holt" -> holtMirrorSql("0.3", "0.1", "0.9"),

    // Holt-Winters oracle: the generated exact FP mirror of the engine's
    // three-phase scan (see q50MirrorSql's scaladoc).
    "q50_holt_winters" -> q50MirrorSql,

    "q51_vocab" ->
      s"""SELECT token, cnt, rank FROM (
         |  SELECT token, count(*) AS cnt,
         |    row_number() OVER (ORDER BY count(*) DESC, token) AS rank
         |  FROM (SELECT unnest($tokExpr) AS token FROM documents)
         |  GROUP BY token)
         |WHERE rank <= 200""".stripMargin,

    // exact regime: every (user, day) group is far below the k=256 sketch
    // capacity, so the cascaded sketch holds all raw values at weight 1 and
    // its interpolated quantile IS quantile_cont
    "q54_sketch_cascade" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS cnt,
        |  round(quantile_cont(value, 0.5), 8) AS p50,
        |  round(quantile_cont(value, 0.95), 8) AS p95
        |FROM events GROUP BY 1, date_trunc('day', ts)""".stripMargin,

    // connected components via a transitive-closure recursive CTE (reach =
    // every (node, label-of-reachable-node) pair, deduped by UNION; min per
    // node = the component's minimum id — identical semantics to the
    // engine's min-label fixpoint). Pair predicate matches q29's shingle
    // Jaccard with the same integer set sizes.
    "q53_dedup_components" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $tokExpr AS t FROM documents WHERE doc_id < 60),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
         |  FROM toks),
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        greatest(len(list_distinct(a.s || b.s)), 1) >= 0.5),
         |e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS comp FROM toks
         |  UNION
         |  SELECT e.b AS node, r.comp FROM e JOIN reach r ON e.a = r.node)
         |SELECT node AS doc_id, min(comp) AS component
         |FROM reach GROUP BY node""".stripMargin,

    // exact regime: capacity (64) exceeds per-day event_type cardinality,
    // so SpaceSaving estimates are exact counts with zero error
    "q52_heavy_hitters" ->
      // DuckDB's date_trunc('day') yields DATE; go through TIMESTAMP so the
      // string form matches Spark's "yyyy-MM-dd HH:mm:ss"
      """SELECT bucket, item, est, err, rank FROM (
        |  SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS bucket,
        |    event_type AS item, count(*) AS est, 0::BIGINT AS err,
        |    row_number() OVER (PARTITION BY date_trunc('day', ts)
        |      ORDER BY count(*) DESC, event_type) AS rank
        |  FROM events GROUP BY date_trunc('day', ts), event_type)
        |WHERE rank <= 5""".stripMargin,

    "q47_throttle_dups" ->
      """SELECT event_id, user_id, event_type, ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id)) AS gap
        |  FROM events)
        |WHERE gap IS NULL OR gap > 60000""".stripMargin,

    // exact transitive closure over verified near-dup pairs; the size-ratio
    // prefilter (J <= min/max sizes) skips hopeless intersects without
    // changing the >= 0.8 result set
    "q55_dedup_pipeline" ->
      s"""WITH RECURSIVE $dedupClosureCtes
         |SELECT node AS doc_id, min(comp) AS canonical,
         |  node = min(comp) AS keep
         |FROM reach GROUP BY node""".stripMargin,

    // q55's closure verdicts grouped per source — the per-stratum
    // duplication report; the engine runs dedupPipeline + an id-keyed
    // join + one stratum-sized aggregate on top of the same math.
    "q153_dedup_report" ->
      s"""WITH RECURSIVE $dedupClosureCtes,
         |verdict AS (
         |  SELECT node AS doc_id, node = min(comp) AS keep
         |  FROM reach GROUP BY node)
         |SELECT d.source AS stratum, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN v.keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dups,
         |  round(CAST(sum(CASE WHEN v.keep THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) AS dup_rate
         |FROM verdict v JOIN documents d USING (doc_id) GROUP BY 1""".stripMargin,

    "q56_repetition_filter" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter($tokExpr, t -> len(t) > 0) AS t
         |  FROM documents),
         |tc AS (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
         |ta AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*) AS n_uniq, max(c) AS top_cnt
         |  FROM tc GROUP BY 1),
         |gc AS (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(t) - 1),
         |      i -> concat_ws(' ', t[i], t[i+1]))) AS g FROM toks)
         |  GROUP BY 1, 2),
         |ga AS (
         |  SELECT doc_id,
         |    coalesce(sum(CASE WHEN c >= 2 THEN c ELSE 0 END), 0) AS dup2_occ,
         |    sum(c) AS n_grams
         |  FROM gc GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_tokens, 0) AS n_tokens,
         |  round(CAST(coalesce(n_uniq, 0) AS DOUBLE)
         |    / greatest(coalesce(n_tokens, 0), 1), 6) AS uniq_frac,
         |  round(CAST(coalesce(top_cnt, 0) AS DOUBLE)
         |    / greatest(coalesce(n_tokens, 0), 1), 6) AS top_frac,
         |  round(CAST(coalesce(dup2_occ, 0) AS DOUBLE)
         |    / greatest(coalesce(n_grams, 0), 1), 6) AS dup2_frac,
         |  (CAST(coalesce(n_uniq, 0) AS DOUBLE)
         |      / greatest(coalesce(n_tokens, 0), 1) >= 0.35
         |    AND CAST(coalesce(top_cnt, 0) AS DOUBLE)
         |      / greatest(coalesce(n_tokens, 0), 1) <= 0.15
         |    AND CAST(coalesce(dup2_occ, 0) AS DOUBLE)
         |      / greatest(coalesce(n_grams, 0), 1) <= 0.12) AS keep
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN ta USING (doc_id) LEFT JOIN ga USING (doc_id)""".stripMargin,

    "q57_token_budget" ->
      s"""SELECT doc_id, lang, source, n_tokens, cum_tokens FROM (
         |  SELECT doc_id, lang, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang, source
         |      ORDER BY doc_id) AS BIGINT) AS cum_tokens
         |  FROM (SELECT doc_id, lang, source, len($tokExpr) AS n_tokens
         |        FROM documents))
         |WHERE cum_tokens - n_tokens < 400""".stripMargin,

    "q58_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $tokExpr AS t FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(t) - 4),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
         |  FROM toks),
         |eg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
         |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (g))
         |SELECT d.doc_id, c.doc_id IS NOT NULL AS contaminated
         |FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
         |WHERE d.doc_id % 50 <> 0""".stripMargin,

    // composition of the q07/q56/q55/q58 mirrors (same predicates verbatim)
    // aggregated into the per-stratum training mix
    "q59_corpus_mix" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, lang, source, text, $tokExpr AS t FROM documents),
         |q AS (
         |  SELECT doc_id, (length(text) >= 100 AND len(t) >= 20
         |    AND round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      / greatest(len(t), 1), 6) <= 15.0) AS q_keep
         |  FROM toks),
         |ft AS (SELECT doc_id, list_filter(t, tk -> len(tk) > 0) AS t FROM toks),
         |tc AS (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(t) AS tok FROM ft) GROUP BY 1, 2),
         |ta AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*) AS n_uniq, max(c) AS top_cnt
         |  FROM tc GROUP BY 1),
         |gc AS (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(t) - 1),
         |      i -> concat_ws(' ', t[i], t[i+1]))) AS g FROM ft)
         |  GROUP BY 1, 2),
         |ga AS (
         |  SELECT doc_id,
         |    coalesce(sum(CASE WHEN c >= 2 THEN c ELSE 0 END), 0) AS dup2_occ,
         |    sum(c) AS n_grams
         |  FROM gc GROUP BY 1),
         |r AS (
         |  SELECT f.doc_id,
         |    (CAST(coalesce(n_uniq, 0) AS DOUBLE)
         |        / greatest(coalesce(n_tokens, 0), 1) >= 0.35
         |      AND CAST(coalesce(top_cnt, 0) AS DOUBLE)
         |        / greatest(coalesce(n_tokens, 0), 1) <= 0.15
         |      AND CAST(coalesce(dup2_occ, 0) AS DOUBLE)
         |        / greatest(coalesce(n_grams, 0), 1) <= 0.12) AS r_keep
         |  FROM (SELECT doc_id FROM toks) f
         |  LEFT JOIN ta USING (doc_id) LEFT JOIN ga USING (doc_id)),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
         |  FROM toks),
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |    AND CAST(least(len(a.s), len(b.s)) AS DOUBLE) /
         |        greatest(len(a.s), len(b.s), 1) >= 0.8
         |    AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        greatest(len(list_distinct(a.s || b.s)), 1), 6) >= 0.8),
         |e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS comp FROM toks
         |  UNION
         |  SELECT e.b AS node, r2.comp FROM e JOIN reach r2 ON e.a = r2.node),
         |d AS (
         |  SELECT node AS doc_id, node = min(comp) AS d_keep
         |  FROM reach GROUP BY node),
         |g5 AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(t) - 4),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
         |  FROM toks),
         |eg AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 50 = 0),
         |cont AS (SELECT DISTINCT g5.doc_id FROM g5 JOIN eg USING (g))
         |SELECT lang, source, count(*) AS docs_kept,
         |  CAST(sum(len(t)) AS BIGINT) AS tokens_kept
         |FROM toks JOIN q USING (doc_id) JOIN r USING (doc_id)
         |  JOIN d USING (doc_id)
         |WHERE doc_id % 50 <> 0 AND q_keep AND r_keep AND d_keep
         |  AND doc_id NOT IN (SELECT doc_id FROM cont)
         |GROUP BY 1, 2""".stripMargin,

    "q48_moving_avg" ->
      """WITH agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id,
        |         date_trunc('hour', ts) AS bucket_start, avg(value) AS mean
        |  FROM events GROUP BY 1,2)
        |SELECT user_id, bucket_start, round(mean, 6) AS mean,
        |  round(avg(mean) OVER (PARTITION BY user_id ORDER BY bucket_start
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
        |FROM agg""".stripMargin,

    // the portable Knuth hash (CorpusOps.idHash) replayed verbatim
    "q60_shard_export" ->
      """WITH h AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 16 AS INT) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY h % 16 ORDER BY h, doc_id) AS INT) AS pos
        |FROM h""".stripMargin,

    "q61_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS INT) AS n_digit_run,
        |  CAST(len(regexp_extract_all(text, '\b(customer|spark)\b')) AS INT) AS n_term,
        |  CAST(length(
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{3,}', '<NUM>', 'g'),
        |      '\b(customer|spark)\b', '<TERM>', 'g')) AS INT) AS n_chars_clean
        |FROM documents""".stripMargin,

    "q62_json_props" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,

    "q63_norm_dedup" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
        |  FROM documents)
        |SELECT doc_id, digest,
        |  min(doc_id) OVER (PARTITION BY digest) AS canonical,
        |  doc_id = min(doc_id) OVER (PARTITION BY digest) AS keep
        |FROM n""".stripMargin,

    "q64_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, source,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents)
        |SELECT doc_id, lang, source,
        |  CAST(row_number() OVER (
        |    PARTITION BY lang, source ORDER BY h, doc_id) AS INT) AS rn
        |FROM h QUALIFY rn <= 10""".stripMargin,

    // FP mirror of TextOps.bm25: same stat aggregates (integer-valued
    // doubles — exact under any partitioning), same per-term op order,
    // terms summed left-to-right
    "q65_bm25" ->
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
         |    CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) AS tf0,
         |    CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE) AS tf1,
         |    CAST(len(list_filter(t, x -> x = 'merge')) AS DOUBLE) AS tf2
         |  FROM (SELECT doc_id, $tokExpr AS t FROM documents)),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
         |    sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
         |    sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
         |    sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
         |  FROM base)
         |SELECT doc_id, round(
         |  ((ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
         |      * (tf0 * (1.2 + 1.0))
         |      / (tf0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
         |   + (ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
         |      * (tf1 * (1.2 + 1.0))
         |      / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))))
         |  + (ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
         |      * (tf2 * (1.2 + 1.0))
         |      / (tf2 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))), 6) AS score
         |FROM base, stats
         |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0""".stripMargin,

    // floor(x+0.5) in both engines (round-half semantics differ); code
    // checksums pin every component exactly
    "q66_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS scale
        |  FROM s),
        |c AS (
        |  SELECT vec_id, e, scale,
        |    CASE WHEN scale = 0
        |      THEN list_transform(e, v -> CAST(0 AS BIGINT))
        |      ELSE list_transform(e, v -> CAST(floor(v * 127.0 / scale + 0.5) AS BIGINT))
        |    END AS codes
        |  FROM sc)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_code,
        |  round(list_max(list_transform(generate_series(1, len(e)),
        |    i -> abs(CAST(codes[i] AS DOUBLE) * scale / 127.0 - e[i]))), 9) AS max_err
        |FROM c""".stripMargin,

    // full recompute restricted to the buckets the "new batch" touches ==
    // the engine's incremental upsert set (partial aggregates merge exactly)
    "q68_incremental_refresh" ->
      """WITH pts AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id,
        |    date_trunc('hour', ts) AS bucket_start, value, event_id
        |  FROM events),
        |touched AS (
        |  SELECT DISTINCT user_id, bucket_start FROM pts WHERE event_id % 5 = 0)
        |SELECT p.user_id, p.bucket_start, count(*) AS cnt,
        |  round(sum(value), 6) AS sum_val,
        |  round(min(value), 6) AS min_val, round(max(value), 6) AS max_val,
        |  round(sum(value) / count(*), 6) AS mean_val
        |FROM pts p JOIN touched t USING (user_id, bucket_start)
        |GROUP BY p.user_id, p.bucket_start""".stripMargin,

    // gram strings stand in for the engine's 64-bit gram hashes (identical
    // duplicate sets absent xxh64 collisions); interval-union coverage via
    // the same lag() pass
    "q69_dup_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokExpr AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i FROM toks),
         |grams AS (
         |  SELECT doc_id, i, array_to_string(t[i : i + 7], ' ') AS g FROM pos),
         |dup AS (
         |  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |hits AS (
         |  SELECT doc_id, i, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
         |  FROM grams WHERE g IN (SELECT g FROM dup)),
         |cov AS (
         |  SELECT doc_id, count(*) AS n_dup_grams,
         |    CAST(sum(CASE WHEN prev IS NULL THEN 8 ELSE least(8, i - prev) END)
         |      AS BIGINT) AS dup_tokens
         |  FROM hits GROUP BY doc_id)
         |SELECT tk.doc_id, len(tk.t) AS n_tokens,
         |  coalesce(c.n_dup_grams, 0) AS n_dup_grams,
         |  coalesce(c.dup_tokens, 0) AS dup_tokens,
         |  round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE)
         |    / greatest(len(tk.t), 1), 6) AS dup_frac
         |FROM toks tk LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // EXACT lttbIndices mirrors (see lttbMirrorSql): q70 = hour/max/48,
    // q34 = minute/min/24 — both aggregates are partition-invariant, so
    // every area double is bit-identical cross-engine.
    "q70_lttb_hourly" -> lttbMirrorSql("hour", "max(value)", 48, "max_val"),

    "q34_lttb_downsample" ->
      lttbMirrorSql("minute", "min(value)", 24, "min_val"),

    "q73_ohlc" ->
      """SELECT user_id, date_trunc('day', ts) AS day,
        |  first(value ORDER BY ts, event_id) AS open,
        |  max(value) AS high, min(value) AS low,
        |  last(value ORDER BY ts, event_id) AS close,
        |  count(*) AS cnt, round(sum(value), 6) AS vsum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q74_signal_corr" ->
      """WITH al AS (
        |  SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
        |    avg(value) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT a.series AS series_a, b.series AS series_b,
        |  round(corr(a.v, b.v), 6) AS r, count(*) AS n_buckets
        |FROM al a JOIN al b ON a.bucket = b.bucket AND a.series < b.series
        |GROUP BY 1, 2""".stripMargin,

    // exact FP mirror of seasonalDecomposeExact: integer cell sums are
    // associative (order-free), trend is one exact-int division, and the
    // seasonal numerator folds cells in trend-bucket order with init 0.0 —
    // identical IEEE op order to the engine's sorted-list aggregate(), so
    // raw doubles match bit-for-bit
    "q75_seasonal_decomp" ->
      """WITH cells AS (
        |  SELECT user_id, date_trunc('day', ts) AS tb,
        |    extract(hour FROM ts) AS ph,
        |    sum(CAST(round(value * 100.0) AS BIGINT)) AS sv, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT user_id, tb,
        |        CAST(sum(sv) AS DOUBLE) / (100.0 * sum(c)) AS trend
        |      FROM cells GROUP BY 1, 2),
        |s AS (
        |  SELECT c.user_id, c.ph,
        |    list_reduce(
        |      list_prepend(0.0::DOUBLE,
        |        list(CAST(c.sv AS DOUBLE) / 100.0 - c.c * t.trend
        |             ORDER BY c.tb)),
        |      (acc, e) -> acc + e) / sum(c.c) AS seasonal
        |  FROM cells c JOIN t ON c.user_id = t.user_id AND c.tb = t.tb
        |  GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, t.trend, s.seasonal,
        |  e.value - t.trend - s.seasonal AS residual
        |FROM events e
        |JOIN t ON e.user_id = t.user_id AND date_trunc('day', e.ts) = t.tb
        |JOIN s ON e.user_id = s.user_id AND extract(hour FROM e.ts) = s.ph""".stripMargin,

    "q76_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS ts_1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS ts_2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.ts_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS ts_3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2 GROUP BY 1)
        |SELECT s1.user_id, s1.ts_1, s2.ts_2, s3.ts_3,
        |  1 + CASE WHEN s2.ts_2 IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN s3.ts_3 IS NOT NULL THEN 1 ELSE 0 END AS depth
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin,

    "q77_cohort_retention" ->
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS period
        |  FROM events),
        |c AS (SELECT user_id, min(period) AS cohort FROM b GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, period FROM b)
        |SELECT c.cohort, a.period - c.cohort AS offset,
        |  count(*) AS active_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q78_burst_range_join" ->
      """WITH b AS (
        |  SELECT date_trunc('day', ts) AS day,
        |    CAST(floor(epoch_ms(ts) / 300000) * 300000 AS BIGINT) AS bstart,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2 HAVING count(*) >= 3),
        |i AS (
        |  SELECT min(bstart) AS start_ms,
        |    max(bstart) + 300000 AS end_ms, count(*) AS n_buckets
        |  FROM (SELECT day, bstart,
        |          CAST(bstart / 300000 AS BIGINT)
        |            - row_number() OVER (PARTITION BY day ORDER BY bstart)
        |            AS island
        |        FROM b)
        |  GROUP BY day, island)
        |SELECT e.event_id, e.user_id, i.start_ms, i.end_ms, i.n_buckets
        |FROM events e JOIN i
        |  ON epoch_ms(e.ts) >= i.start_ms AND epoch_ms(e.ts) < i.end_ms""".stripMargin,

    "q79_twa" ->
      """WITH o AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, epoch_ms(ts) AS t,
        |    value,
        |    lead(epoch_ms(ts)) OVER (
        |      PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) - epoch_ms(ts) AS dt
        |  FROM events)
        |SELECT user_id, day,
        |  CASE WHEN max(t) > min(t) THEN
        |    CAST(sum(CAST(value AS DECIMAL(12,2)) * dt) AS DOUBLE)
        |      / CAST(max(t) - min(t) AS DOUBLE)
        |  END AS twa,
        |  max(t) - min(t) AS span_ms, count(*) AS n
        |FROM o GROUP BY 1, 2""".stripMargin,

    "q80_counter_increase" ->
      """WITH o AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(value AS DECIMAL(12,2)) AS v,
        |    lag(CAST(value AS DECIMAL(12,2))) OVER (
        |      PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) AS pv
        |  FROM events)
        |SELECT user_id, day,
        |  CAST(sum(CASE WHEN pv IS NULL THEN NULL
        |                WHEN v >= pv THEN v - pv ELSE v END) AS DOUBLE)
        |    AS increase,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END)
        |    AS BIGINT) AS resets,
        |  count(*) AS n
        |FROM o GROUP BY 1, 2""".stripMargin,

    // full recompute over ALL raw events — q81's engine answers it from
    // stored-rollup ∪ fresh-tail, so hash equality proves the real-time
    // read is lossless across the materialization watermark
    "q81_realtime_agg" ->
      """SELECT user_id,
        |  CAST(floor(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT)
        |    AS bucket_start,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q82_hysteresis_alerts" ->
      """WITH h AS (
        |  SELECT user_id, epoch_ms(date_trunc('hour', ts)) AS b,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT user_id, b, m,
        |    coalesce(last_value(
        |        CASE WHEN m >= 120 THEN 1 WHEN m <= 60 THEN 0 END
        |        IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      0) AS fire,
        |    row_number() OVER (PARTITION BY user_id ORDER BY b) AS rn
        |  FROM h),
        |f AS (
        |  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY b)
        |    AS grp
        |  FROM st WHERE fire = 1)
        |SELECT user_id, min(b) AS ep_start, max(b) AS ep_end,
        |  count(*) AS n_buckets, max(m) AS peak
        |FROM f GROUP BY user_id, grp""".stripMargin,

    "q83_availability" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
        |    epoch_ms(date_trunc('minute', ts)) AS b
        |  FROM events),
        |g AS (
        |  SELECT user_id, day, b,
        |    b - lag(b) OVER (PARTITION BY user_id, day ORDER BY b) AS gap
        |  FROM b)
        |SELECT user_id, day, count(*) AS observed,
        |  (max(b) - min(b)) // 60000 + 1 AS expected,
        |  (max(b) - min(b)) // 60000 + 1 - count(*) AS missing,
        |  coalesce(max(gap) - 60000, 0) AS longest_gap_ms
        |FROM g GROUP BY 1, 2""".stripMargin,

    "q84_calendar_baseline" ->
      """WITH h AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    sum(CAST(value AS DECIMAL(12,2))) AS vs, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, bucket, n,
        |  CAST(vs AS DOUBLE) / n AS mean,
        |  CAST(sum(vs) OVER w AS DOUBLE) / sum(n) OVER w AS baseline,
        |  CASE WHEN CAST(sum(vs) OVER w AS DOUBLE) / sum(n) OVER w > 0
        |    THEN (CAST(vs AS DOUBLE) / n)
        |      / (CAST(sum(vs) OVER w AS DOUBLE) / sum(n) OVER w) END AS ratio
        |FROM h
        |WINDOW w AS (PARTITION BY user_id, extract(hour FROM bucket)
        |  ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,

    "q85_top_movers" ->
      """WITH d AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(CAST(value AS DECIMAL(12,2))) AS total
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, day, total,
        |    lag(total) OVER (PARTITION BY user_id ORDER BY day) AS prev_total
        |  FROM d)
        |SELECT user_id, day, CAST(total AS DOUBLE) AS total,
        |  CAST(prev_total AS DOUBLE) AS prev_total,
        |  CAST(total - prev_total AS DOUBLE) AS change
        |FROM m WHERE prev_total IS NOT NULL
        |ORDER BY abs(total - prev_total) DESC, user_id, day
        |LIMIT 20""".stripMargin,

    "q86_sax_words" ->
      """WITH paa AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    extract(hour FROM ts) AS slot,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS m
        |  FROM events GROUP BY 1, 2, 3),
        |sym AS (
        |  SELECT user_id, day, slot,
        |    chr(CAST(96 + ntile(4) OVER (
        |      PARTITION BY user_id, day ORDER BY m, slot) AS INTEGER)) AS s
        |  FROM paa)
        |SELECT user_id, day, string_agg(s, '' ORDER BY slot) AS word,
        |  count(*) AS n_slots
        |FROM sym GROUP BY 1, 2""".stripMargin,

    "q87_slo_burn" ->
      """WITH h AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS bucket,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err,
        |    count(*) AS tot
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, bucket, err, tot,
        |  round(CAST(sum(err) OVER ws AS DOUBLE)
        |    / CAST(sum(tot) OVER ws AS DOUBLE) / 0.25, 6) AS burn_short,
        |  round(CAST(sum(err) OVER wl AS DOUBLE)
        |    / CAST(sum(tot) OVER wl AS DOUBLE) / 0.25, 6) AS burn_long,
        |  (CAST(sum(err) OVER ws AS DOUBLE) / CAST(sum(tot) OVER ws AS DOUBLE)
        |    / 0.25 > 1.0)
        |  AND (CAST(sum(err) OVER wl AS DOUBLE) / CAST(sum(tot) OVER wl AS DOUBLE)
        |    / 0.25 > 1.0) AS alert
        |FROM h
        |WINDOW ws AS (PARTITION BY user_id ORDER BY bucket
        |    RANGE BETWEEN 0 PRECEDING AND CURRENT ROW),
        |  wl AS (PARTITION BY user_id ORDER BY bucket
        |    RANGE BETWEEN 18000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q92_tiered_read" ->
      """WITH a AS (
        |  SELECT (max(epoch_ms(ts)) - 7*86400000) // 86400000 * 86400000
        |      AS cut1,
        |    (max(epoch_ms(ts)) - 14*86400000) // 86400000 * 86400000
        |      AS cut2
        |  FROM events),
        |t AS (
        |  SELECT user_id, epoch_ms(ts) AS tms,
        |    CASE WHEN epoch_ms(ts) >= a.cut1 THEN '1m'
        |         WHEN epoch_ms(ts) >= a.cut2 THEN '1h' ELSE '1d' END AS tier,
        |    CASE WHEN epoch_ms(ts) >= a.cut1 THEN 60000
        |         WHEN epoch_ms(ts) >= a.cut2 THEN 3600000
        |         ELSE 86400000 END AS w,
        |    value
        |  FROM events, a)
        |SELECT user_id, tier, CAST(tms // w * w AS BIGINT) AS bucket_start,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum
        |FROM t GROUP BY 1, 2, 3""".stripMargin,

    "q93_overlap_join" ->
      """WITH b AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(floor(epoch_ms(ts) / 300000) * 300000 AS BIGINT) AS bstart
        |  FROM events WHERE event_type IN ('error', 'purchase')
        |  GROUP BY 1, 2, 3),
        |i AS (
        |  SELECT event_type, min(bstart) AS s, max(bstart) + 300000 AS e
        |  FROM (SELECT *, bstart // 300000
        |          - row_number() OVER (PARTITION BY event_type, day
        |              ORDER BY bstart) AS isl
        |        FROM b)
        |  GROUP BY event_type, day, isl),
        |er AS (SELECT s AS err_start, e AS err_end FROM i
        |       WHERE event_type = 'error'),
        |pu AS (SELECT s AS pur_start, e AS pur_end FROM i
        |       WHERE event_type = 'purchase')
        |SELECT err_start, err_end, pur_start, pur_end,
        |  least(err_end, pur_end) - greatest(err_start, pur_start)
        |    AS overlap_ms
        |FROM er JOIN pu
        |  ON err_start < pur_end AND pur_start < err_end""".stripMargin,

    "q94_session_stats" ->
      """WITH b AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id,
        |    epoch_ms(ts) AS t
        |  FROM b),
        |g AS (
        |  SELECT user_id, session_id, min(t) AS s_start,
        |    max(t) - min(t) AS dur, count(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(s_start // 86400000 * 86400000 AS BIGINT) AS day_ms,
        |  count(*) AS n_sessions,
        |  CAST(sum(dur) AS DOUBLE) / count(*) AS avg_duration_ms,
        |  max(dur) AS max_duration_ms,
        |  CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_events,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS bounce_rate
        |FROM g GROUP BY 1""".stripMargin,

    "q95_lag_correlation" ->
      """WITH v AS (
        |  SELECT CAST(floor(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS b,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS x
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT CAST(floor(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS b,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |l AS (SELECT CAST(unnest(range(-3, 4)) AS BIGINT) AS lag)
        |SELECT l.lag, round(corr(v.x, p.y), 6) AS r, count(*) AS n
        |FROM l CROSS JOIN v JOIN p ON p.b = v.b + l.lag * 3600000
        |GROUP BY 1""".stripMargin,

    "q96_histogram_drift" ->
      """WITH c AS (
        |  SELECT event_type,
        |    epoch_ms(date_trunc('day', ts)) AS period,
        |    CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, period, sum(c) AS n FROM c GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(c.event_type, q.event_type) AS event_type,
        |    coalesce(c.period, q.period + 86400000) AS period,
        |    coalesce(c.c, 0) AS c, coalesce(q.c, 0) AS q
        |  FROM c FULL OUTER JOIN c q
        |    ON c.event_type = q.event_type
        |    AND c.period = q.period + 86400000 AND c.bin = q.bin)
        |SELECT j.event_type, j.period AS day_ms,
        |  CAST(t.n AS BIGINT) AS n, CAST(pt.n AS BIGINT) AS m,
        |  CAST(sum(abs(c * pt.n - q * t.n)) AS DOUBLE)
        |    / (2.0 * t.n * pt.n) AS tvd
        |FROM j
        |JOIN t ON t.event_type = j.event_type AND t.period = j.period
        |JOIN t pt ON pt.event_type = j.event_type
        |  AND pt.period = j.period - 86400000
        |GROUP BY 1, 2, t.n, pt.n""".stripMargin,

    // RBO mirror: the same deterministic (cnt DESC, item) ranks, the SAME
    // literal weight table (machine-generated from rboWeights via
    // shortest-round-trip doubles), and the same fixed (m, item)-ordered
    // fold — raw doubles bit-identical
    "q145_rbo_topk" -> q145MirrorSql,

    // seasonality-strength mirror: identical integer cells (HUGEINT
    // squares ≡ decimal(19,0) products), the same SS_total chain, and the
    // same ascending-hour fold for SS_between
    "q148_seasonality_strength" ->
      """WITH c AS (
        |  SELECT user_id AS key,
        |    (epoch_ms(ts) // 3600000) % 168 AS how,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |g AS (
        |  SELECT key, how, count(*) AS n_g,
        |    CAST(sum(cents) AS BIGINT) AS s_g,
        |    sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS q_g
        |  FROM c GROUP BY 1, 2),
        |k AS (
        |  SELECT key, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(s_g) AS BIGINT) AS s, sum(q_g) AS q,
        |    count(*) AS n_hours,
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
        |      list(struct_pack(how := how, n_g := n_g, s_g := s_g)
        |        ORDER BY how),
        |      t -> t.s_g::DOUBLE * t.s_g::DOUBLE / t.n_g::DOUBLE)),
        |      (a, b) -> a + b) AS between_raw
        |  FROM g GROUP BY 1)
        |SELECT key AS user_id, n, n_hours,
        |  q::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE AS ss_total,
        |  between_raw - s::DOUBLE * s::DOUBLE / n::DOUBLE AS ss_between,
        |  CASE WHEN (q::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) > 0
        |    THEN (between_raw - s::DOUBLE * s::DOUBLE / n::DOUBLE)
        |      / (q::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
        |  END AS eta_sq
        |FROM k""".stripMargin,

    // language-ID eval mirror: q08's prediction CASE verbatim, then the
    // same integer confusion cells and fixed p/r/f1 chains
    "q147_langid_eval" ->
      s"""WITH pred AS (
         |  SELECT lang AS gold,
         |    CASE WHEN len(list_filter($tokExpr, t -> t IN ('the','a','of','to','and','in','is','it','that','for'))) >= len(list_filter($tokExpr, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','von')))
         |          AND len(list_filter($tokExpr, t -> t IN ('the','a','of','to','and','in','is','it','that','for'))) >= len(list_filter($tokExpr, t -> t IN ('le','la','les','et','est','un','une','de','que','pour')))
         |         THEN 'en'
         |         WHEN len(list_filter($tokExpr, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) >= len(list_filter($tokExpr, t -> t IN ('le','la','les','et','est','un','une','de','que','pour')))
         |         THEN 'de' ELSE 'fr' END AS pred
         |  FROM documents),
         |pairs AS (SELECT gold, pred, count(*) AS n FROM pred GROUP BY 1, 2),
         |g AS (SELECT gold AS cls, CAST(sum(n) AS BIGINT) AS support
         |  FROM pairs GROUP BY 1),
         |p AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS pred_n
         |  FROM pairs GROUP BY 1),
         |t AS (SELECT gold AS cls, n AS tp FROM pairs WHERE gold = pred),
         |cl AS (SELECT cls FROM g UNION SELECT cls FROM p),
         |b AS (
         |  SELECT cl.cls, coalesce(g.support, 0) AS support,
         |    coalesce(p.pred_n, 0) AS pred_n, coalesce(t.tp, 0) AS tp
         |  FROM cl LEFT JOIN g USING (cls) LEFT JOIN p USING (cls)
         |  LEFT JOIN t USING (cls))
         |SELECT cls AS lang, support, pred_n, tp,
         |  pred_n - tp AS fp, support - tp AS fn,
         |  CASE WHEN pred_n > 0
         |    THEN tp::DOUBLE / pred_n::DOUBLE END AS precision,
         |  CASE WHEN support > 0
         |    THEN tp::DOUBLE / support::DOUBLE END AS recall,
         |  CASE WHEN pred_n > 0 AND support > 0 AND tp > 0
         |    THEN 2.0 * (tp::DOUBLE / pred_n::DOUBLE)
         |      * (tp::DOUBLE / support::DOUBLE)
         |      / (tp::DOUBLE / pred_n::DOUBLE
         |        + tp::DOUBLE / support::DOUBLE) END AS f1
         |FROM b""".stripMargin,

    // Kaplan-Meier mirror: integer lifetimes/risk sets, the identical
    // ascending-t prefix fold seeded at 1.0 (plain double accumulator —
    // safe from the DuckDB struct-acc lambda bug)
    "q146_churn_survival" ->
      """WITH spans AS (
        |  SELECT user_id * 1000
        |      + CAST(json_extract_string(props, '$.k') AS BIGINT) AS key,
        |    CAST(epoch_ms(date_trunc('day', min(ts))) // 86400000
        |      AS BIGINT) AS f,
        |    CAST(epoch_ms(date_trunc('day', max(ts))) // 86400000
        |      AS BIGINT) AS l
        |  FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS total, max(l) AS max_day FROM spans),
        |e AS (
        |  SELECT s.l <= a.max_day - 7 AS dead,
        |    CASE WHEN s.l <= a.max_day - 7 THEN s.l - s.f
        |      ELSE a.max_day - s.f END AS t,
        |    a.total
        |  FROM spans s CROSS JOIN a),
        |byt AS (
        |  SELECT t, max(total) AS total,
        |    CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN dead THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM e GROUP BY 1),
        |risk AS (
        |  SELECT t, d, total - coalesce(sum(d + c) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS n_risk
        |  FROM byt),
        |lst AS (
        |  SELECT list(struct_pack(t := t, d := d, n := n_risk)
        |    ORDER BY t) AS rows FROM risk),
        |rr AS (SELECT *, row_number() OVER (ORDER BY t) AS rn FROM risk)
        |SELECT rr.t AS t_days, CAST(rr.n_risk AS BIGINT) AS n_risk,
        |  rr.d AS n_deaths,
        |  list_reduce(list_prepend(1.0::DOUBLE, list_transform(
        |    l.rows[1:rr.rn], x -> 1.0 - x.d::DOUBLE / x.n::DOUBLE)),
        |    (a, b) -> a * b) AS survival
        |FROM rr CROSS JOIN lst l
        |WHERE rr.d > 0""".stripMargin,

    // EMD/KS mirror: q96's cell scaffold + HUGEINT cumulative-count
    // products over the same (key, period) bin order, lead-gap coverage of
    // absent bins, then the engine's exact two divisions
    "q144_emd_drift" ->
      """WITH c AS (
        |  SELECT event_type,
        |    epoch_ms(date_trunc('day', ts)) AS period,
        |    CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, period, sum(c) AS n FROM c GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(c.event_type, q.event_type) AS event_type,
        |    coalesce(c.period, q.period + 86400000) AS period,
        |    coalesce(c.bin, q.bin) AS bin,
        |    coalesce(c.c, 0) AS c, coalesce(q.c, 0) AS q
        |  FROM c FULL OUTER JOIN c q
        |    ON c.event_type = q.event_type
        |    AND c.period = q.period + 86400000 AND c.bin = q.bin),
        |g AS (
        |  SELECT j.event_type, j.period, j.bin,
        |    abs(CAST(sum(j.c) OVER w AS HUGEINT) * pt.n
        |      - CAST(sum(j.q) OVER w AS HUGEINT) * t.n) AS d,
        |    coalesce(lead(j.bin) OVER w - j.bin, 0) AS gap,
        |    t.n AS n, pt.n AS m
        |  FROM j
        |  JOIN t ON t.event_type = j.event_type AND t.period = j.period
        |  JOIN t pt ON pt.event_type = j.event_type
        |    AND pt.period = j.period - 86400000
        |  WINDOW w AS (PARTITION BY j.event_type, j.period ORDER BY j.bin))
        |SELECT event_type, period AS day_ms,
        |  CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
        |  25.0 * CAST(sum(d * gap) AS DOUBLE) / (n::DOUBLE * m::DOUBLE)
        |    AS emd,
        |  CAST(max(d) AS DOUBLE) / (n::DOUBLE * m::DOUBLE) AS ks
        |FROM g GROUP BY 1, 2, n, m""".stripMargin,

    // plain-SQL recompute from raw events: hash equality means the engine's
    // Gorilla encode->decode wire preserved every double BIT-FOR-BIT
    "q97_gorilla_roundtrip" ->
      """SELECT user_id,
        |  CAST(floor(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT)
        |    AS bucket_ms,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        |    AS mean
        |FROM events GROUP BY 1, 2""".stripMargin,

    // plain recompute from raw events — the engine answers it from the
    // stored rollup via the Catalyst rewrite, so hash equality proves the
    // rewritten read path exact
    "q98_rollup_rewrite" ->
      """SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q149_rewrite_day" ->
      """SELECT user_id, date_trunc('day', ts) AS bucket, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q150_rewrite_filtered" ->
      """SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum
        |FROM events WHERE user_id % 7 = 3 GROUP BY 1, 2""".stripMargin,

    "q99_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, ts, max(value) AS next_purchase
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts,
        |  round(p.next_purchase, 6) AS next_purchase
        |FROM events l ASOF LEFT JOIN p
        |  ON l.user_id = p.user_id AND l.ts <= p.ts""".stripMargin,

    "q101_gapfill_nearest" ->
      """WITH agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    date_trunc('hour', ts) AS bucket,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        |      AS mean
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT key, unnest(generate_series(min(bucket), max(bucket),
        |    INTERVAL 1 HOUR)) AS bucket
        |  FROM agg GROUP BY key),
        |j AS (
        |  SELECT s.key, s.bucket, a.mean AS raw,
        |    last_value(a.mean IGNORE NULLS) OVER wp AS prev_v,
        |    last_value(CASE WHEN a.mean IS NOT NULL THEN s.bucket END
        |      IGNORE NULLS) OVER wp AS prev_t,
        |    first_value(a.mean IGNORE NULLS) OVER wn AS next_v,
        |    first_value(CASE WHEN a.mean IS NOT NULL THEN s.bucket END
        |      IGNORE NULLS) OVER wn AS next_t
        |  FROM spans s LEFT JOIN agg a ON s.key = a.key AND s.bucket = a.bucket
        |  WINDOW wp AS (PARTITION BY s.key ORDER BY s.bucket
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY s.key ORDER BY s.bucket
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT key, bucket,
        |  CASE WHEN raw IS NOT NULL THEN raw
        |       WHEN next_v IS NULL THEN prev_v
        |       WHEN prev_v IS NULL THEN next_v
        |       WHEN epoch_ms(bucket) - epoch_ms(prev_t)
        |         <= epoch_ms(next_t) - epoch_ms(bucket) THEN prev_v
        |       ELSE next_v END AS mean,
        |  raw IS NULL AS gap_filled
        |FROM j""".stripMargin,

    // full recompute — the engine's answer went through initial build +
    // incremental upsert merge + the Catalyst rewrite
    "q100_ca_lifecycle" ->
      """SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum,
        |  min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the SEQUENTIAL CUSUM recurrence in integer cents (k = 60.00 ->
    // 6000c, h = 250.00 -> 25000c). The engine answers it with the
    // tropical segmented scan; integer max/+ are exact, so the hash match
    // needs no FP mirroring — any correct evaluation order agrees.
    "q102_cusum" ->
      """WITH RECURSIVE rord AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS tms, value,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events
        |), walk AS (
        |  SELECT user_id, 0::BIGINT AS rn, NULL::BIGINT AS event_id,
        |    NULL::BIGINT AS tms, NULL::DOUBLE AS value, 0::BIGINT AS s
        |  FROM (SELECT DISTINCT user_id FROM rord)
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.event_id, o.tms, o.value,
        |    greatest(0, w.s + o.vc - 6000) AS s
        |  FROM rord o JOIN walk w
        |    ON o.user_id = w.user_id AND o.rn = w.rn + 1
        |)
        |SELECT event_id, user_id, make_timestamp(tms * 1000) AS ts, value,
        |  CAST(s AS DOUBLE) / 100.0 AS cusum, s > 25000 AS alarm
        |FROM walk WHERE rn >= 1""".stripMargin,

    // the q86 word pipeline + the capped self-join: words shared by 2..50
    // series in a day pair each member combination exactly once
    "q103_sax_motifs" ->
      """WITH paa AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    extract(hour FROM ts) AS slot,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS m
        |  FROM events GROUP BY 1, 2, 3),
        |sym AS (
        |  SELECT user_id, day, slot,
        |    chr(CAST(96 + ntile(4) OVER (
        |      PARTITION BY user_id, day ORDER BY m, slot) AS INTEGER)) AS s
        |  FROM paa),
        |w AS (
        |  SELECT user_id, day, string_agg(s, '' ORDER BY slot) AS word
        |  FROM sym GROUP BY 1, 2),
        |sized AS (
        |  SELECT day, word FROM w GROUP BY day, word
        |  HAVING count(*) BETWEEN 2 AND 50)
        |SELECT a.day, a.word, a.user_id AS url_a, b.user_id AS url_b
        |FROM w a
        |JOIN w b ON a.day = b.day AND a.word = b.word
        |  AND a.user_id < b.user_id
        |JOIN sized z ON z.day = a.day AND z.word = a.word""".stripMargin,

    // exact integer mirror of Spark's decimal Average: the mean of n
    // DECIMAL(12,2) values, expressed at scale 6, is
    // round-half-up(sum·10^6 / n) — i.e. floor((2·sum·10^6 + n) / (2n))
    // in HUGEINT — then one exact
    // int→double conversion and one correctly-rounded /1e6, both of which
    // Spark's decimal(16,6)→double cast reproduces bit-for-bit. (Spark
    // rounds the division at scale 23 first, but the rational sum/n is
    // never within 5e-18 of a 6-dp boundary, so the double rounding is
    // provably inert.) The engine answers from the REWRITTEN store read.
    "q104_rewrite_avg" ->
      """WITH h AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    count(*) AS cnt,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) * 1000000 AS HUGEINT) AS nn
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, bucket, cnt,
        |  CAST((2 * nn + cnt) // (2 * cnt) AS DOUBLE) / 1000000.0 AS avg_v
        |FROM h""".stripMargin,

    // lower medians by rank selection in integer cents — the same order
    // statistics the engine's two window passes pick
    "q105_mad_outliers" ->
      """WITH o AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, event_id, value,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY user_id, day ORDER BY vc, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, day) AS n
        |  FROM o),
        |med AS (
        |  SELECT user_id, day, vc AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT o.user_id, o.day, o.event_id, o.value, m.med,
        |    abs(o.vc - m.med) AS dev
        |  FROM o JOIN med m ON o.user_id = m.user_id AND o.day = m.day),
        |r2 AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY user_id, day ORDER BY dev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, day) AS n
        |  FROM d),
        |mad AS (
        |  SELECT user_id, day, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.event_id, d.user_id, d.day, d.value,
        |  CAST(d.med AS DOUBLE) / 100.0 AS median,
        |  CAST(x.mad AS DOUBLE) / 100.0 AS mad,
        |  CAST(d.dev AS DOUBLE) > 3.0 * CAST(x.mad AS DOUBLE) AS is_outlier
        |FROM d JOIN mad x ON d.user_id = x.user_id AND d.day = x.day""".stripMargin,

    // exact sliding distinct: dedup to (user, day), fan out 7 report days,
    // dedup again, count — inner-joined to observed days
    "q106_rolling_actives" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |obs AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
        |c AS (
        |  SELECT DISTINCT ud.user_id, ud.day + i.i * INTERVAL 1 DAY AS tday
        |  FROM ud, generate_series(0, 6) AS i(i))
        |SELECT c.tday AS day, count(*) AS actives
        |FROM c JOIN obs ON obs.day = c.tday
        |GROUP BY 1""".stripMargin,

    // Mann-Kendall: integer-cents S + tie correction (exact), z and Sen's
    // slope mirror the engine's double op order (cents diff -> double ->
    // /100 -> / unit count; continuity-corrected z) bit-for-bit
    "q107_mann_kendall" ->
      """WITH s0 AS (
        |  SELECT user_id, epoch_ms(date_trunc('day', ts)) AS ts,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(12,2))
        |      * 100 AS BIGINT) AS vc
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, count(*) AS n FROM s0 GROUP BY 1),
        |t AS (
        |  SELECT user_id,
        |    CAST(sum(tt * (tt - 1) * (tt * 2 + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT user_id, vc, count(*) AS tt FROM s0 GROUP BY 1, 2)
        |  GROUP BY 1),
        |p AS (
        |  SELECT a.user_id, a.ts AS ta, b.ts AS tb,
        |    CASE WHEN b.vc > a.vc THEN 1 WHEN b.vc < a.vc THEN -1
        |         ELSE 0 END AS sgn,
        |    CAST(b.vc - a.vc AS DOUBLE) / 100.0 /
        |      (CAST(b.ts - a.ts AS DOUBLE) / 86400000.0) AS slope
        |  FROM s0 a JOIN s0 b ON a.user_id = b.user_id AND a.ts < b.ts),
        |sa AS (SELECT user_id, CAST(sum(sgn) AS BIGINT) AS s FROM p GROUP BY 1),
        |sen AS (
        |  SELECT user_id, slope AS sen_slope FROM (
        |    SELECT user_id, slope, row_number() OVER (
        |        PARTITION BY user_id ORDER BY slope, ta, tb) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS np
        |    FROM p)
        |  WHERE rn = (np + 1) // 2),
        |j AS (
        |  SELECT n.user_id, n.n, coalesce(sa.s, 0) AS s,
        |    CAST(n.n * (n.n - 1) * (n.n * 2 + 5) - t.tsum AS DOUBLE) / 18.0
        |      AS var_s,
        |    sen.sen_slope
        |  FROM n JOIN t ON n.user_id = t.user_id
        |    LEFT JOIN sa ON n.user_id = sa.user_id
        |    LEFT JOIN sen ON n.user_id = sen.user_id),
        |z AS (
        |  SELECT *,
        |    CASE WHEN var_s = 0 THEN NULL
        |         WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |         WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |         ELSE 0.0 END AS z
        |  FROM j)
        |SELECT user_id, n, s, var_s, z,
        |  CASE WHEN z IS NULL THEN 'no trend'
        |       WHEN z > 1.96 THEN 'increasing'
        |       WHEN z < -1.96 THEN 'decreasing'
        |       ELSE 'no trend' END AS trend,
        |  sen_slope
        |FROM z""".stripMargin,

    // Seasonal MK: the q107 mirror with season = hour-of-day in every
    // grouping and the pair join; variance = exact-long per-season sum
    "q108_seasonal_mk" ->
      """WITH s0 AS (
        |  SELECT user_id, hour(hb) AS g, epoch_ms(hb) AS ts,
        |    CAST(CAST(hsum AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
        |  FROM (SELECT user_id, date_trunc('hour', ts) AS hb,
        |          sum(CAST(value AS DECIMAL(12,2))) AS hsum
        |        FROM events GROUP BY 1, 2)),
        |gs AS (
        |  SELECT user_id, g, CAST(sum(t) AS BIGINT) AS ng,
        |    CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tsumg
        |  FROM (SELECT user_id, g, vc, count(*) AS t FROM s0 GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT user_id, CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(ng * (ng - 1) * (ng * 2 + 5) - tsumg) AS BIGINT) AS varint
        |  FROM gs GROUP BY 1),
        |p AS (
        |  SELECT a.user_id, a.ts AS ta, b.ts AS tb,
        |    CASE WHEN b.vc > a.vc THEN 1 WHEN b.vc < a.vc THEN -1
        |         ELSE 0 END AS sgn,
        |    CAST(b.vc - a.vc AS DOUBLE) / 100.0 /
        |      (CAST(b.ts - a.ts AS DOUBLE) / 86400000.0) AS slope
        |  FROM s0 a JOIN s0 b
        |    ON a.user_id = b.user_id AND a.g = b.g AND a.ts < b.ts),
        |sa AS (SELECT user_id, CAST(sum(sgn) AS BIGINT) AS s FROM p GROUP BY 1),
        |sen AS (
        |  SELECT user_id, slope AS sen_slope FROM (
        |    SELECT user_id, slope, row_number() OVER (
        |        PARTITION BY user_id ORDER BY slope, ta, tb) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS np
        |    FROM p)
        |  WHERE rn = (np + 1) // 2),
        |j AS (
        |  SELECT st.user_id, st.n, coalesce(sa.s, 0) AS s,
        |    CAST(st.varint AS DOUBLE) / 18.0 AS var_s, sen.sen_slope
        |  FROM st LEFT JOIN sa ON st.user_id = sa.user_id
        |    LEFT JOIN sen ON st.user_id = sen.user_id),
        |z AS (
        |  SELECT *,
        |    CASE WHEN var_s = 0 THEN NULL
        |         WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |         WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |         ELSE 0.0 END AS z
        |  FROM j)
        |SELECT user_id, n, s, var_s, z,
        |  CASE WHEN z IS NULL THEN 'no trend'
        |       WHEN z > 1.96 THEN 'increasing'
        |       WHEN z < -1.96 THEN 'decreasing'
        |       ELSE 'no trend' END AS trend,
        |  sen_slope
        |FROM z""".stripMargin,

    // histogram_quantile mirror: identical bin/cum/total integers, then the
    // engine's exact interpolation op order — rank = q·total;
    // est = bin·10 + (rank − (cum−cnt))/cnt · 10 — over bit-identical
    // operands, so raw doubles hash-match with no rounding
    "q109_hist_quantile" ->
      """WITH h AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(floor(value / 10.0) AS BIGINT) AS bin, count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3),
        |c AS (
        |  SELECT user_id, day, bin, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY user_id, day ORDER BY bin)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY user_id, day) AS BIGINT) AS total
        |  FROM h),
        |f AS (
        |  -- CAST q out of DECIMAL(2,2) (VALUES literals): 0.5 would canon
        |  -- as '0.50' and rank would multiply in the decimal domain
        |  SELECT c.*, CAST(qs.q AS DOUBLE) AS q,
        |    CAST(qs.q AS DOUBLE) * CAST(total AS DOUBLE) AS rank
        |  FROM c CROSS JOIN (VALUES (0.5), (0.9), (0.99)) qs(q)
        |  WHERE CAST(cum AS DOUBLE)
        |    >= CAST(qs.q AS DOUBLE) * CAST(total AS DOUBLE)),
        |p AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY user_id, day, q ORDER BY bin) AS rn
        |  FROM f)
        |SELECT user_id, day, q,
        |  CAST(bin AS DOUBLE) * 10.0 +
        |    (rank - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE) * 10.0
        |    AS est
        |FROM p WHERE rn = 1""".stripMargin,

    // change compression mirror: identical gaps-and-islands construction
    // (change flag -> running-sum run id -> per-run first row + count);
    // all integers, so no FP canon risk anywhere
    "q110_change_compress" ->
      """WITH s0 AS (
        |  SELECT user_id, epoch_ms(ts) AS tms, event_id,
        |    CAST(floor(value / 25.0) AS BIGINT) AS level
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN lag(level) OVER w IS NULL
        |      OR level <> lag(level) OVER w THEN 1 ELSE 0 END AS chg
        |  FROM s0 WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        |r AS (
        |  SELECT *, CAST(sum(chg) OVER (
        |      PARTITION BY user_id ORDER BY tms, event_id) AS BIGINT) AS run
        |  FROM f)
        |SELECT user_id, make_timestamp(min(tms) * 1000) AS ts,
        |  first(event_id ORDER BY tms, event_id) AS event_id,
        |  min(level) AS level, count(*) AS run_len
        |FROM r GROUP BY user_id, run""".stripMargin,

    // forecast-accuracy mirror: identical decimal bucket totals, the same
    // 1-row range-frame seasonal/one-step lookups, decimal error sums, and
    // the engine's exact final division order — raw doubles hash-match
    "q111_forecast_accuracy" ->
      """WITH h AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) * 3600000 AS bucket,
        |    sum(CAST(value AS DECIMAL(12,2))) AS vs
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT user_id, vs,
        |    vs - max(vs) OVER (PARTITION BY user_id ORDER BY bucket
        |      RANGE BETWEEN 86400000 PRECEDING AND 86400000 PRECEDING) AS e,
        |    vs - max(vs) OVER (PARTITION BY user_id ORDER BY bucket
        |      RANGE BETWEEN 3600000 PRECEDING AND 3600000 PRECEDING) AS d
        |  FROM h),
        |a AS (
        |  SELECT user_id, CAST(count(e) AS BIGINT) AS n_fc,
        |    sum(abs(e)) AS sae, sum(e) AS se,
        |    CAST(count(d) AS BIGINT) AS nd, sum(abs(d)) AS sad
        |  FROM s GROUP BY 1)
        |SELECT user_id, n_fc,
        |  CAST(sae AS DOUBLE) / CAST(n_fc AS DOUBLE) AS mae,
        |  CAST(se AS DOUBLE) / CAST(n_fc AS DOUBLE) AS bias,
        |  CASE WHEN sad > 0 THEN
        |    (CAST(sae AS DOUBLE) / CAST(n_fc AS DOUBLE))
        |      / (CAST(sad AS DOUBLE) / CAST(nd AS DOUBLE)) END AS mase
        |FROM a WHERE n_fc > 0""".stripMargin,

    // staleness mirror: integer timestamps/ages/flags; the single double
    // division (last-first)/(n-1) in the engine's exact op order
    "q112_staleness" ->
      """WITH k AS (
        |  SELECT user_id, count(*) AS n,
        |    min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms
        |  FROM events GROUP BY 1),
        |a AS (SELECT max(epoch_ms(ts)) AS anchor_ms FROM events)
        |SELECT user_id, n, last_ms AS last_ts_ms,
        |  anchor_ms - last_ms AS age_ms,
        |  (anchor_ms - last_ms) > 21600000 AS stale,
        |  CASE WHEN n > 1 THEN CAST(last_ms - first_ms AS DOUBLE)
        |    / CAST(n - 1 AS DOUBLE) END AS mean_interval_ms
        |FROM k CROSS JOIN a""".stripMargin,

    // series-churn mirror: identical distinct -> lifetime -> per-day-count
    // construction, all integers
    "q113_series_churn" ->
      """WITH kd AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |life AS (
        |  SELECT user_id, min(day) AS born_day, max(day) AS last_day
        |  FROM kd GROUP BY 1)
        |SELECT kd.day, count(*) AS active,
        |  CAST(sum(CASE WHEN kd.day = life.born_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS born,
        |  CAST(sum(CASE WHEN kd.day = life.last_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS retired
        |FROM kd JOIN life USING (user_id) GROUP BY kd.day""".stripMargin,

    // apdex mirror: exact integer counts; the score reproduces the
    // engine's (sat + 0.5*tol)/total op order verbatim
    "q114_apdex" ->
      """WITH c AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS satisfied,
        |    CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
        |    CAST(sum(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS frustrated,
        |    count(*) AS total
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, satisfied, tolerating, frustrated, total,
        |  (CAST(satisfied AS DOUBLE) + CAST(tolerating AS DOUBLE) * 0.5)
        |    / CAST(total AS DOUBLE) AS apdex
        |FROM c""".stripMargin,

    // decontamination mirror: string 8-grams where the engine joins on
    // xxhash64 shingles (hash equality ≡ string equality at corpus scale —
    // the q69 construction); per-doc DISTINCT grams on both sides
    "q115_decontamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokExpr AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i FROM toks),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(t[i : i + 7], ' ') AS g FROM pos),
         |ev AS (
         |  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         |ng AS (
         |  SELECT doc_id, count(*) AS n_grams FROM grams
         |  WHERE doc_id % 97 <> 0 GROUP BY 1),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_contaminated FROM grams
         |  WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM ev) GROUP BY 1)
         |SELECT tk.doc_id, coalesce(ng.n_grams, 0) AS n_grams,
         |  coalesce(h.n_contaminated, 0) AS n_contaminated,
         |  round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
         |    / CAST(greatest(coalesce(ng.n_grams, 0), 1) AS DOUBLE), 6)
         |    AS contamination,
         |  coalesce(h.n_contaminated, 0) > 0 AS contaminated
         |FROM toks tk
         |LEFT JOIN ng USING (doc_id) LEFT JOIN hits h USING (doc_id)
         |WHERE tk.doc_id % 97 <> 0""".stripMargin,

    // PSI mirror: identical cells/totals/shift joins as q96, then the
    // engine's exact per-bin term (eps-substituted proportions, one
    // division each, (p-q)*ln(p/q)) folded left-to-right over bins
    // ascending from an explicit 0.0 — plain-double acc, so DuckDB's
    // struct-lambda bug is not in play; ln parity is the q65 precedent
    "q116_psi_drift" ->
      """WITH c AS (
        |  SELECT event_type,
        |    epoch_ms(date_trunc('day', ts)) AS period,
        |    CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, period, sum(c) AS n FROM c GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(c.event_type, q.event_type) AS event_type,
        |    coalesce(c.period, q.period + 86400000) AS period,
        |    coalesce(c.bin, q.bin) AS bin,
        |    coalesce(c.c, 0) AS c, coalesce(q.c, 0) AS q
        |  FROM c FULL OUTER JOIN c q
        |    ON c.event_type = q.event_type
        |    AND c.period = q.period + 86400000 AND c.bin = q.bin),
        |b AS (
        |  SELECT j.event_type, j.period,
        |    CAST(t.n AS BIGINT) AS n, CAST(pt.n AS BIGINT) AS m,
        |    list(struct_pack(bin := j.bin, c := j.c, q := j.q)
        |      ORDER BY j.bin) AS bins
        |  FROM j
        |  JOIN t ON t.event_type = j.event_type AND t.period = j.period
        |  JOIN t pt ON pt.event_type = j.event_type
        |    AND pt.period = j.period - 86400000
        |  GROUP BY 1, 2, t.n, pt.n)
        |SELECT event_type, period AS day_ms, n, m,
        |  list_reduce(
        |    list_prepend(0.0::DOUBLE, list_transform(bins, x ->
        |      (CASE WHEN x.c > 0 THEN CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE)
        |            ELSE 0.0001 END
        |       - CASE WHEN x.q > 0 THEN CAST(x.q AS DOUBLE) / CAST(m AS DOUBLE)
        |              ELSE 0.0001 END)
        |      * ln(CASE WHEN x.c > 0 THEN CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE)
        |               ELSE 0.0001 END
        |           / CASE WHEN x.q > 0 THEN CAST(x.q AS DOUBLE) / CAST(m AS DOUBLE)
        |                  ELSE 0.0001 END))),
        |    (acc, t2) -> acc + t2) AS psi
        |FROM b""".stripMargin,

    // Bigram-LM cross-entropy: exact integer counts; per-gram ln terms
    // from bit-identical operands; the per-doc sum folds left-to-right
    // in position order from an explicit 0.0 (the q116 discipline). The
    // 1-based oracle pos vs the engine's 0-based only orders the fold —
    // the orderings are identical. Factored so q134 reuses it verbatim —
    // change them together.
    "q118_lm_perplexity" -> q118MirrorSql,

    // percentile gate over the q118 perplexities: same LM mirror (factored
    // above), RANK-semantics percent_rank = (rank-1)/(n-1) identical in
    // both engines, NULL-ppl docs filtered before ranking (Spark orders
    // NULLs first, DuckDB last — excluded rather than mirrored)
    "q134_quality_gate" ->
      s"""WITH p AS ($q118MirrorSql),
         |j AS (
         |  SELECT p.doc_id, d.lang, p.ppl
         |  FROM p JOIN documents d USING (doc_id)
         |  WHERE p.ppl IS NOT NULL)
         |SELECT doc_id, lang, ppl,
         |  percent_rank() OVER (PARTITION BY lang ORDER BY ppl) AS pct_rank,
         |  percent_rank() OVER (PARTITION BY lang ORDER BY ppl)
         |    <= 0.7::DOUBLE AS keep
         |FROM j""".stripMargin,

    // Zipf fit mirror: exact integer term counts, row_number under the
    // deterministic (freq DESC, token ASC) order, fixed-order ln folds
    // (rank ascending, explicit 0.0 seed — the q116/q118 discipline),
    // then olsFinalize's closed form op-for-op (scale-1.0 divisions are
    // bit-exact identities, so they're omitted). Raw doubles, no round.
    "q135_zipf_fit" ->
      s"""WITH tf AS (
         |  SELECT lang, tok, count(*) AS c
         |  FROM (SELECT lang,
         |    unnest(list_filter($tokExpr, tk -> len(tk) > 0)) AS tok
         |    FROM documents)
         |  GROUP BY 1, 2),
         |v AS (SELECT lang, count(*) AS vocab_size FROM tf GROUP BY 1),
         |r AS (
         |  SELECT lang, c,
         |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rnk
         |  FROM tf),
         |h AS (
         |  SELECT lang, count(*) AS n,
         |    list(struct_pack(rnk := rnk, c := c) ORDER BY rnk) AS rc
         |  FROM r WHERE rnk <= 1000 GROUP BY 1),
         |s AS (
         |  SELECT lang, n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(rc,
         |      t -> ln(t.rnk::DOUBLE))), (a, b) -> a + b) AS sx,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(rc,
         |      t -> ln(t.c::DOUBLE))), (a, b) -> a + b) AS sy,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(rc,
         |      t -> ln(t.rnk::DOUBLE) * ln(t.c::DOUBLE))), (a, b) -> a + b) AS sxy,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(rc,
         |      t -> ln(t.rnk::DOUBLE) * ln(t.rnk::DOUBLE))), (a, b) -> a + b) AS sxx,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(rc,
         |      t -> ln(t.c::DOUBLE) * ln(t.c::DOUBLE))), (a, b) -> a + b) AS syy
         |  FROM h),
         |f AS (
         |  SELECT lang, n, sx, sy, sxy, sxx, syy,
         |    n::DOUBLE * sxy - sx * sy AS cov,
         |    n::DOUBLE * sxx - sx * sx AS varx,
         |    n::DOUBLE * syy - sy * sy AS vary
         |  FROM s)
         |SELECT f.lang, f.n AS n_ranks, v.vocab_size,
         |  CASE WHEN varx > 0 THEN -(cov / varx) END AS zipf_exponent,
         |  CASE WHEN varx > 0 THEN
         |    sy / n::DOUBLE - (cov / varx) * (sx / n::DOUBLE) END AS intercept,
         |  CASE WHEN varx > 0 AND vary > 0 THEN
         |    (cov / varx) * (cov / vary) END AS r2
         |FROM f JOIN v USING (lang)""".stripMargin,

    // Heaps-law mirror: integer chunk ids (doc_id >> 4), integer prefix
    // sums over the chunk rollup, power-of-2 rank checkpoints, then the
    // same fixed-order ln folds + olsFinalize closed form as q135.
    "q136_heaps_fit" ->
      s"""WITH toks AS (
         |  SELECT lang, doc_id >> 4 AS chunk,
         |    unnest(list_filter($tokExpr, tk -> len(tk) > 0)) AS tok
         |  FROM documents),
         |fc AS (SELECT lang, tok, min(chunk) AS first_chunk
         |  FROM toks GROUP BY 1, 2),
         |np AS (SELECT lang, first_chunk AS chunk, count(*) AS new_toks
         |  FROM fc GROUP BY 1, 2),
         |tp AS (SELECT lang, chunk, count(*) AS n_toks
         |  FROM toks GROUP BY 1, 2),
         |cum AS (
         |  SELECT tp.lang, tp.chunk,
         |    sum(tp.n_toks) OVER (PARTITION BY tp.lang ORDER BY tp.chunk)
         |      AS cum_n,
         |    sum(coalesce(np.new_toks, 0))
         |      OVER (PARTITION BY tp.lang ORDER BY tp.chunk) AS cum_v,
         |    row_number() OVER (PARTITION BY tp.lang ORDER BY tp.chunk) AS rn
         |  FROM tp LEFT JOIN np ON np.lang = tp.lang AND np.chunk = tp.chunk),
         |tot AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total_tokens
         |  FROM tp GROUP BY 1),
         |voc AS (SELECT lang, count(*) AS total_vocab FROM fc GROUP BY 1),
         |pts AS (
         |  SELECT lang, count(*) AS n,
         |    list(struct_pack(rn := rn, cn := cum_n, cv := cum_v)
         |      ORDER BY rn) AS ps
         |  FROM cum WHERE (rn & (rn - 1)) = 0 GROUP BY 1),
         |s AS (
         |  SELECT lang, n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps,
         |      t -> ln(t.cn::DOUBLE))), (a, b) -> a + b) AS sx,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps,
         |      t -> ln(t.cv::DOUBLE))), (a, b) -> a + b) AS sy,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps,
         |      t -> ln(t.cn::DOUBLE) * ln(t.cv::DOUBLE))), (a, b) -> a + b)
         |      AS sxy,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps,
         |      t -> ln(t.cn::DOUBLE) * ln(t.cn::DOUBLE))), (a, b) -> a + b)
         |      AS sxx,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps,
         |      t -> ln(t.cv::DOUBLE) * ln(t.cv::DOUBLE))), (a, b) -> a + b)
         |      AS syy
         |  FROM pts),
         |f AS (
         |  SELECT lang, n, sx, sy, sxy, sxx, syy,
         |    n::DOUBLE * sxy - sx * sy AS cov,
         |    n::DOUBLE * sxx - sx * sx AS varx,
         |    n::DOUBLE * syy - sy * sy AS vary
         |  FROM s)
         |SELECT f.lang, f.n AS n_points, tot.total_tokens, voc.total_vocab,
         |  CASE WHEN varx > 0 THEN cov / varx END AS beta,
         |  CASE WHEN varx > 0 THEN
         |    sy / n::DOUBLE - (cov / varx) * (sx / n::DOUBLE) END AS ln_k,
         |  CASE WHEN varx > 0 AND vary > 0 THEN
         |    (cov / varx) * (cov / vary) END AS r2
         |FROM f JOIN tot USING (lang) JOIN voc USING (lang)""".stripMargin,

    // source-divergence mirror: integer counts, the same top-200 set under
    // the deterministic (count DESC, token ASC) order, per-row p/q fixed
    // divisions with the eps substitution, then rank-ordered fixed-order
    // folds for KL/JS/TV — identical op order, raw doubles
    "q137_source_divergence" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(list_filter($tokExpr, tk -> len(tk) > 0))
         |    AS tok
         |  FROM documents),
         |corpus AS (SELECT tok, count(*) AS cc FROM toks GROUP BY 1),
         |top AS (
         |  SELECT tok, cc, row_number() OVER (ORDER BY cc DESC, tok) AS rank
         |  FROM corpus ORDER BY cc DESC, tok LIMIT 200),
         |g AS (
         |  SELECT t.source AS grp, top.rank, count(*) AS gc
         |  FROM toks t JOIN top ON top.tok = t.tok GROUP BY 1, 2),
         |gt AS (SELECT grp, CAST(sum(gc) AS BIGINT) AS gt FROM g GROUP BY 1),
         |tc AS (SELECT CAST(sum(cc) AS BIGINT) AS tc FROM top),
         |grid AS (
         |  SELECT gt.grp, gt.gt, top.rank,
         |    CASE WHEN coalesce(g.gc, 0) > 0
         |      THEN g.gc::DOUBLE / gt.gt::DOUBLE ELSE 1e-4 END AS p,
         |    top.cc::DOUBLE / tc.tc::DOUBLE AS q
         |  FROM gt CROSS JOIN top CROSS JOIN tc
         |  LEFT JOIN g ON g.grp = gt.grp AND g.rank = top.rank),
         |f AS (
         |  SELECT grp, gt,
         |    list(struct_pack(rank := rank, p := p, q := q) ORDER BY rank)
         |      AS terms
         |  FROM grid GROUP BY 1, 2)
         |SELECT grp AS source, gt AS n_top_tokens,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(terms,
         |    t -> t.p * ln(t.p / t.q))), (a, b) -> a + b) AS kl,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(terms,
         |    t -> (t.p * ln(t.p / ((t.p + t.q) / 2.0))
         |      + t.q * ln(t.q / ((t.p + t.q) / 2.0))) / 2.0)),
         |    (a, b) -> a + b) AS js,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(terms,
         |    t -> abs(t.p - t.q))), (a, b) -> a + b) / 2.0 AS tv
         |FROM f""".stripMargin,

    // new-entity gate: the Bloom layer is pruning only — the exact answer
    // is the plain anti-join, which is the oracle
    "q138_new_keys" ->
      """WITH k AS (
        |  SELECT user_id * 1000
        |      + CAST(json_extract_string(props, '$.k') AS BIGINT) AS key,
        |    epoch_ms(ts) AS ts_ms
        |  FROM events),
        |cur AS (SELECT key, ts_ms FROM k WHERE ts_ms >= 1705363200000),
        |prior AS (SELECT DISTINCT key FROM k WHERE ts_ms < 1705363200000)
        |SELECT key, count(*) AS n_events, min(ts_ms) AS first_ts_ms
        |FROM cur ANTI JOIN prior USING (key)
        |GROUP BY 1""".stripMargin,

    // inverted-index mirror: same (token, doc) tf aggregate, HAVING df >= 2,
    // the identical rnk <= 8 posting cap, ascending comma-joined ids —
    // integers and strings only, exact at any partitioning
    "q139_inverted_index" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(list_filter($tokExpr, tk -> len(tk) > 0)) AS token
         |  FROM documents),
         |g AS (SELECT token, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
         |stats AS (
         |  SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
         |  FROM g GROUP BY 1 HAVING count(*) >= 2),
         |r AS (
         |  SELECT token, doc_id,
         |    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rnk
         |  FROM g),
         |p AS (
         |  SELECT token,
         |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         |      AS postings
         |  FROM r WHERE rnk <= 8 GROUP BY 1)
         |SELECT s.token, s.df, s.cf, p.postings
         |FROM stats s JOIN p USING (token)""".stripMargin,

    // PMI mirror: integer uni/bigram counts, scan-level totals (sum of
    // list lengths, never an unnest), and the engine's exact left-to-right
    // six-term ln chain — raw doubles and therefore the top-100 ranking
    // mirror bit-for-bit
    "q140_pmi_collocations" ->
      s"""WITH d AS (
         |  SELECT list_filter($tokExpr, tk -> len(tk) > 0) AS t
         |  FROM documents),
         |tot AS (
         |  SELECT CAST(sum(len(t)) AS BIGINT) AS nu,
         |    CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS nb FROM d),
         |uni AS (SELECT unnest(t) AS w FROM d),
         |unic AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         |big0 AS (
         |  SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
         |  FROM d WHERE len(t) >= 2),
         |big AS (
         |  SELECT z[1] AS w1, z[2] AS w2, count(*) AS c_xy
         |  FROM big0 GROUP BY 1, 2 HAVING count(*) >= 5),
         |scored AS (
         |  SELECT b.w1, b.w2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
         |    ln(b.c_xy::DOUBLE) - ln(tot.nb::DOUBLE) - ln(u1.c::DOUBLE)
         |      + ln(tot.nu::DOUBLE) - ln(u2.c::DOUBLE) + ln(tot.nu::DOUBLE)
         |      AS pmi
         |  FROM big b JOIN unic u1 ON u1.w = b.w1
         |  JOIN unic u2 ON u2.w = b.w2 CROSS JOIN tot)
         |SELECT row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank,
         |  w1, w2, c_xy, c_x, c_y, pmi
         |FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,

    // Kneser-Ney mirror: every statistic is an integer aggregate over the
    // FULL bigram table (the minCount filter applies to output rows only);
    // p_kn is the engine's exact fixed-order double chain
    "q141_kneser_ney_lm" ->
      s"""WITH d AS (
         |  SELECT list_filter($tokExpr, tk -> len(tk) > 0) AS t
         |  FROM documents),
         |big0 AS (
         |  SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
         |  FROM d WHERE len(t) >= 2),
         |big AS (
         |  SELECT z[1] AS w1, z[2] AS w2, count(*) AS c_xy
         |  FROM big0 GROUP BY 1, 2),
         |ctx AS (
         |  SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_w1,
         |    count(*) AS n_follow
         |  FROM big GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS n_precede FROM big GROUP BY 1),
         |ty AS (SELECT count(*) AS n_types FROM big)
         |SELECT b.w1, b.w2, b.c_xy, ctx.c_w1, ctx.n_follow, cont.n_precede,
         |  greatest(b.c_xy::DOUBLE - 0.75, 0.0) / ctx.c_w1::DOUBLE
         |    + ((0.75 * ctx.n_follow::DOUBLE) / ctx.c_w1::DOUBLE)
         |      * (cont.n_precede::DOUBLE / ty.n_types::DOUBLE) AS p_kn
         |FROM big b JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN ty
         |WHERE b.c_xy >= 5""".stripMargin,

    // rolling-correlation mirror: identical decimal-cents hourly cells,
    // HUGEINT product sums over the same RANGE frame (exact ≡ Spark's
    // decimal(19,0) products), and the engine's exact Pearson double chain
    "q143_rolling_corr" ->
      """WITH e AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    event_type
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |a AS (
        |  SELECT bucket_ms,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'view'
        |      THEN cents END), 0) AS BIGINT) AS x,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN cents END), 0) AS BIGINT) AS y
        |  FROM e GROUP BY 1),
        |s AS (
        |  SELECT bucket_ms,
        |    count(*) OVER w AS n_buckets,
        |    CAST(sum(CAST(x AS HUGEINT)) OVER w AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) OVER w AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) OVER w
        |      AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER w
        |      AS DOUBLE) AS syy
        |  FROM a
        |  WINDOW w AS (ORDER BY bucket_ms
        |    RANGE BETWEEN 82800000 PRECEDING AND CURRENT ROW))
        |SELECT bucket_ms, n_buckets,
        |  CASE WHEN (n_buckets::DOUBLE * sxx - sx * sx) > 0
        |        AND (n_buckets::DOUBLE * syy - sy * sy) > 0
        |    THEN (n_buckets::DOUBLE * sxy - sx * sy)
        |      / sqrt((n_buckets::DOUBLE * sxx - sx * sx)
        |        * (n_buckets::DOUBLE * syy - sy * sy))
        |  END AS corr
        |FROM s""".stripMargin,

    // trailing-actives mirror: the same dedup-first first-in-window
    // identity — an active day covers windows [max(day, prev+7d), day+6d]
    // — over a generate_series day spine; pure integer day/count math
    "q142_trailing_actives" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS key,
        |    epoch_ms(date_trunc('day', ts)) AS day
        |  FROM events),
        |fi AS (
        |  SELECT day, lag(day) OVER (PARTITION BY key ORDER BY day) AS prev
        |  FROM ud),
        |cov AS (
        |  SELECT unnest(generate_series(
        |    CASE WHEN prev IS NULL THEN day
        |      ELSE greatest(day, prev + 604800000) END,
        |    day + 518400000, 86400000)) AS day_ms
        |  FROM fi),
        |counts AS (SELECT day_ms, count(*) AS actives FROM cov GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT epoch_ms(date_trunc('day', min(ts))) FROM events),
        |    (SELECT epoch_ms(date_trunc('day', max(ts))) FROM events),
        |    86400000)) AS day_ms)
        |SELECT s.day_ms, coalesce(c.actives, 0) AS actives
        |FROM spine s LEFT JOIN counts c USING (day_ms)""".stripMargin,

    "q119_audience_overlap" ->
      """WITH p AS (
        |  SELECT DISTINCT event_type,
        |    epoch_ms(date_trunc('day', ts)) AS period,
        |    CAST(user_id AS VARCHAR) AS member
        |  FROM events),
        |c AS (SELECT event_type, period, count(*) AS c FROM p GROUP BY 1, 2),
        |i AS (
        |  SELECT a.event_type, a.period, count(*) AS retained
        |  FROM p a JOIN p b ON a.event_type = b.event_type
        |    AND a.member = b.member AND a.period = b.period + 86400000
        |  GROUP BY 1, 2)
        |SELECT c.event_type, c.period AS day_ms,
        |  c.c AS curr_n, pc.c AS prev_n,
        |  coalesce(i.retained, 0) AS retained,
        |  c.c + pc.c - coalesce(i.retained, 0) AS union_n,
        |  c.c - coalesce(i.retained, 0) AS new_n,
        |  pc.c - coalesce(i.retained, 0) AS churned_n,
        |  round(CAST(coalesce(i.retained, 0) AS DOUBLE)
        |    / CAST(c.c + pc.c - coalesce(i.retained, 0) AS DOUBLE), 6) AS jaccard
        |FROM c JOIN c pc ON c.event_type = pc.event_type
        |  AND c.period = pc.period + 86400000
        |LEFT JOIN i ON i.event_type = c.event_type AND i.period = c.period""".stripMargin,

    // Theta sketches in exact mode (audiences < 2^lgK): every estimate is
    // the exact distinct count, so the oracle is the true set algebra —
    // q119's CTEs with the difference columns renamed to the sketch
    // output's *_est names
    "q122_theta_overlap" ->
      """WITH p AS (
        |  SELECT DISTINCT event_type,
        |    epoch_ms(date_trunc('day', ts)) AS period,
        |    CAST(user_id AS VARCHAR) AS member
        |  FROM events),
        |c AS (SELECT event_type, period, count(*) AS c FROM p GROUP BY 1, 2),
        |i AS (
        |  SELECT a.event_type, a.period, count(*) AS retained
        |  FROM p a JOIN p b ON a.event_type = b.event_type
        |    AND a.member = b.member AND a.period = b.period + 86400000
        |  GROUP BY 1, 2)
        |SELECT c.event_type AS key, c.period,
        |  c.c AS curr_est, pc.c AS prev_est,
        |  c.c + pc.c - coalesce(i.retained, 0) AS union_est,
        |  coalesce(i.retained, 0) AS retained_est,
        |  c.c - coalesce(i.retained, 0) AS new_est,
        |  pc.c - coalesce(i.retained, 0) AS churned_est,
        |  round(CAST(coalesce(i.retained, 0) AS DOUBLE)
        |    / CAST(c.c + pc.c - coalesce(i.retained, 0) AS DOUBLE), 6)
        |    AS jaccard_est
        |FROM c JOIN c pc ON c.event_type = pc.event_type
        |  AND c.period = pc.period + 86400000
        |LEFT JOIN i ON i.event_type = c.event_type AND i.period = c.period""".stripMargin,

    // Efraimidis–Spirakis keys: exact integer hash, exact power-of-two u,
    // one ln (parity precedent) + one division over bit-identical
    // operands — raw-double compare, no rounding needed
    "q121_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang, source, CAST(n_chars AS DOUBLE) AS w,
        |    ln(CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE)
        |        / 4294967296.0) / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0)
        |SELECT doc_id, lang, source, w, k,
        |  CAST(row_number() OVER (
        |    PARTITION BY lang, source ORDER BY k DESC, doc_id) AS INT) AS rn
        |FROM s QUALIFY rn <= 10""".stripMargin,

    // OLS mirror: integer sufficient statistics (hour index x, cents y)
    // are order-free exact; slope/intercept/r² reproduce the engine's
    // double op order verbatim, so raw doubles match bit-for-bit
    "q123_linear_trend" ->
      """WITH xy AS (
        |  SELECT user_id,
        |    CAST(floor((epoch_ms(ts) - 1704067200000) / 3600000.0)
        |      AS BIGINT) AS x,
        |    CAST(round(value * 100.0) AS BIGINT) AS y
        |  FROM events),
        |s AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM xy GROUP BY 1)
        |SELECT user_id, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    THEN ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 100.0
        |  END AS slope,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    THEN (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |            * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0
        |  END AS intercept,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |    THEN ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |         * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END AS r2
        |FROM s""".stripMargin,

    // CCF mirror: alignment means are exact integer-cents rationals; corr
    // rounds at 6dp like q74 (co-moment accumulation order differs
    // cross-engine at ulp scale)
    "q124_cross_corr" ->
      """WITH al AS (
        |  SELECT event_type AS series,
        |    CAST(floor((epoch_ms(ts) - 1704067200000) / 3600000.0)
        |      AS BIGINT) AS bucket,
        |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE)
        |      / (100.0 * CAST(count(*) AS DOUBLE)) AS v
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(-3, 4))
        |SELECT a.series AS series_a, b.series AS series_b,
        |  CAST(l.lag AS INT) AS lag, round(corr(a.v, b.v), 6) AS r,
        |  count(*) AS n_buckets
        |FROM al a CROSS JOIN lags l
        |JOIN al b ON b.series > a.series AND b.bucket = a.bucket + l.lag
        |GROUP BY 1, 2, 3""".stripMargin,

    // inter-arrival mirror: identical lag window (ts, event_id order),
    // integer-exact gap sums, second-resolution dispersion with the
    // engine's exact double op order (greatest-clamped sqrt included)
    "q125_interarrival" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap
        |  FROM events),
        |s AS (
        |  SELECT user_id, count(*) AS n_gaps,
        |    CAST(sum(gap) AS BIGINT) AS sg,
        |    min(gap) AS min_gap_ms, max(gap) AS max_gap_ms,
        |    CAST(sum(CAST(floor(gap / 1000.0) AS BIGINT)) AS BIGINT) AS sgs,
        |    CAST(sum(CAST(floor(gap / 1000.0) AS BIGINT)
        |           * CAST(floor(gap / 1000.0) AS BIGINT)) AS BIGINT) AS sgs2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps,
        |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_ms,
        |  min_gap_ms, max_gap_ms,
        |  CASE WHEN n_gaps >= 2
        |        AND CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0
        |    THEN sqrt(greatest(
        |           (CAST(sgs2 AS DOUBLE) - CAST(sgs AS DOUBLE)
        |              * CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |             / (CAST(n_gaps AS DOUBLE) - 1.0), 0.0))
        |         / (CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |  END AS cv,
        |  CASE WHEN n_gaps >= 2
        |        AND sqrt(greatest(
        |             (CAST(sgs2 AS DOUBLE) - CAST(sgs AS DOUBLE)
        |                * CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |               / (CAST(n_gaps AS DOUBLE) - 1.0), 0.0))
        |           + CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0
        |    THEN (sqrt(greatest(
        |            (CAST(sgs2 AS DOUBLE) - CAST(sgs AS DOUBLE)
        |               * CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |              / (CAST(n_gaps AS DOUBLE) - 1.0), 0.0))
        |          - CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |         / (sqrt(greatest(
        |            (CAST(sgs2 AS DOUBLE) - CAST(sgs AS DOUBLE)
        |               * CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |              / (CAST(n_gaps AS DOUBLE) - 1.0), 0.0))
        |          + CAST(sgs AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |  END AS burstiness
        |FROM s""".stripMargin,

    // ACF mirror: the q124 alignment means turned inward (self-join on the
    // series); corr rounds at 6dp like q124/q74
    "q126_acf" ->
      """WITH al AS (
        |  SELECT event_type AS series,
        |    CAST(floor((epoch_ms(ts) - 1704067200000) / 3600000.0)
        |      AS BIGINT) AS bucket,
        |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE)
        |      / (100.0 * CAST(count(*) AS DOUBLE)) AS v
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 7))
        |SELECT a.series AS event_type, CAST(l.lag AS INT) AS lag,
        |  round(corr(a.v, b.v), 6) AS r, count(*) AS n_buckets
        |FROM al a CROSS JOIN lags l
        |JOIN al b ON b.series = a.series AND b.bucket = a.bucket + l.lag
        |GROUP BY 1, 2""".stripMargin,

    // entropy mirror: exact integer cells; the entropy fold runs in the
    // engine's exact type-ascending order from an explicit 0.0 (q116
    // discipline) and the final negation/divisions are single fixed ops —
    // raw doubles, no rounding
    "q127_type_entropy" ->
      """WITH c AS (
        |  SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
        |    event_type AS type, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT user_id, day_ms,
        |    CAST(sum(c) AS BIGINT) AS n_events,
        |    count(*) AS n_types,
        |    CAST(sum(c * c) AS BIGINT) AS s2,
        |    list(c ORDER BY type) AS cs
        |  FROM c GROUP BY 1, 2)
        |SELECT user_id, day_ms, n_events, n_types,
        |  0.0 - list_reduce(
        |    list_prepend(0.0::DOUBLE, list_transform(cs, x ->
        |      (CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE))
        |        * ln(CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE)))),
        |    (acc, t) -> acc + t) AS entropy,
        |  CASE WHEN n_types >= 2
        |    THEN (0.0 - list_reduce(
        |      list_prepend(0.0::DOUBLE, list_transform(cs, x ->
        |        (CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE))
        |          * ln(CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE)))),
        |      (acc, t) -> acc + t))
        |      / ln(CAST(n_types AS DOUBLE))
        |  END AS norm_entropy,
        |  1.0 - CAST(s2 AS DOUBLE)
        |    / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) AS simpson
        |FROM g""".stripMargin,

    // exact-regime mirror: below sketch capacity the engine's interpolated
    // quantile IS quantile_cont (q54 precedent); the trailing window is an
    // observed-day join over [day-6d, day]
    "q128_rolling_quantiles" ->
      """WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id,
        |    epoch_ms(date_trunc('day', ts)) AS day, value AS v
        |  FROM events),
        |obs AS (SELECT DISTINCT user_id, day FROM e)
        |SELECT o.user_id, o.day AS day_ms, count(*) AS window_n,
        |  round(quantile_cont(e.v, 0.5), 8) AS p50,
        |  round(quantile_cont(e.v, 0.95), 8) AS p95,
        |  round(quantile_cont(e.v, 0.99), 8) AS p99
        |FROM obs o JOIN e ON e.user_id = o.user_id
        |  AND e.day BETWEEN o.day - 6 * 86400000 AND o.day
        |GROUP BY 1, 2""".stripMargin,

    // revisit mirror: identical lag window, integer change counts, and the
    // engine's exact double op order for mean interval, lambda, and the
    // clamped tau (X = 0 answered by CASE on both sides, no inf-clamp
    // parity needed)
    "q129_revisit_schedule" ->
      """WITH c AS (
        |  SELECT user_id, epoch_ms(ts) AS ts,
        |    CAST(round(value * 100.0) AS BIGINT) AS c,
        |    lag(CAST(round(value * 100.0) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS pc
        |  FROM events),
        |s AS (
        |  SELECT user_id, count(*) AS n_obs,
        |    CAST(sum(CASE WHEN pc IS NOT NULL AND pc <> c
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
        |    min(ts) AS f, max(ts) AS l
        |  FROM c GROUP BY 1 HAVING count(*) >= 2),
        |m AS (
        |  SELECT user_id, n_obs, n_changes,
        |    CAST(l - f AS DOUBLE) / (CAST(n_obs AS DOUBLE) - 1.0) AS mi,
        |    (0.0 - ln((CAST(n_obs AS DOUBLE) - CAST(n_changes AS DOUBLE)
        |               + 0.5)
        |              / (CAST(n_obs AS DOUBLE) + 0.5)))
        |      / (CAST(l - f AS DOUBLE) / (CAST(n_obs AS DOUBLE) - 1.0))
        |      AS lam_ms
        |  FROM s)
        |SELECT user_id, n_obs, n_changes, mi AS mean_interval_ms,
        |  lam_ms * 86400000.0 AS lambda_per_day,
        |  CASE WHEN n_changes = 0 THEN 720.0
        |       ELSE least(720.0, greatest(1.0,
        |         (0.0 - ln(0.95)) / lam_ms / 3600000.0))
        |  END AS revisit_hours
        |FROM m""".stripMargin,

    // trimmed-mean mirror: exact integer-cents ranks and sums; ::DOUBLE on
    // the alpha literal (a bare 0.1 is DECIMAL in DuckDB and floors
    // differently)
    "q130_trimmed_mean" ->
      """WITH r AS (
        |  SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
        |    CAST(round(value * 100.0) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY CAST(round(value * 100.0) AS BIGINT), event_id) AS rn,
        |    count(*) OVER (
        |      PARTITION BY user_id, date_trunc('day', ts)) AS n
        |  FROM events),
        |k AS (
        |  SELECT user_id, day_ms, CAST(n AS BIGINT) AS n,
        |    CAST(floor(0.1::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT) AS t,
        |    CAST(sum(c) AS BIGINT) AS s, min(c) AS mn, max(c) AS mx,
        |    count(*) AS kept
        |  FROM r
        |  WHERE rn > floor(0.1::DOUBLE * CAST(n AS DOUBLE))
        |    AND rn <= CAST(n AS DOUBLE)
        |      - floor(0.1::DOUBLE * CAST(n AS DOUBLE))
        |  GROUP BY 1, 2, 3, 4)
        |SELECT user_id, day_ms, n, t AS trimmed_each,
        |  CAST(s AS DOUBLE) / (100.0 * CAST(kept AS DOUBLE)) AS trimmed_mean,
        |  CAST(s + t * (mn + mx) AS DOUBLE)
        |    / (100.0 * CAST(n AS DOUBLE)) AS winsor_mean
        |FROM k""".stripMargin,

    // TF-IDF keyword mirror: identical tokenization, exact integer tf/df/N,
    // the engine's score op order, and the same (score DESC, term) rank
    "q131_keywords" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter($tokExpr, tk -> len(tk) > 0) AS t
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
         |    CAST(df.df AS BIGINT) AS df,
         |    CAST(tf.tf AS DOUBLE)
         |      * (ln((CAST(nd.n AS DOUBLE) + 1.0)
         |             / (CAST(df.df AS DOUBLE) + 1.0)) + 1.0) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN nd)
         |SELECT doc_id, rank, term, tf, df, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank FROM s)
         |WHERE rank <= 5""".stripMargin,

    // concentration mirror: exact integer rank-weighted Gini numerator and
    // HHI squares under the identical (count, unit) rank order; three
    // fixed-order divisions
    "q132_concentration" ->
      """WITH c AS (
        |  SELECT epoch_ms(date_trunc('day', ts)) AS period, user_id AS unit,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT period, c,
        |    CAST(row_number() OVER (PARTITION BY period
        |      ORDER BY c, unit) AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY period) AS BIGINT) AS n
        |  FROM c),
        |g AS (
        |  SELECT period, n AS n_units,
        |    CAST(sum(c) AS BIGINT) AS total,
        |    CAST(sum((2 * i - n - 1) * c) AS BIGINT) AS gnum,
        |    CAST(sum(c * c) AS BIGINT) AS c2, max(c) AS cmax
        |  FROM r GROUP BY 1, 2)
        |SELECT period AS day_ms, n_units, total,
        |  CAST(gnum AS DOUBLE)
        |    / (CAST(n_units AS DOUBLE) * CAST(total AS DOUBLE)) AS gini,
        |  CAST(c2 AS DOUBLE)
        |    / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) AS hhi,
        |  CAST(cmax AS DOUBLE) / CAST(total AS DOUBLE) AS top_share
        |FROM g""".stripMargin,

    // rate-limit mirror: the SEQUENTIAL token-bucket recurrence in integer
    // nano-tokens (refill-then-consume, debt clamped at full) — the
    // engine's tropical scan is exactly this walk (the q102 license: the
    // (max, +) semiring over integers has no FP to mirror). r = 0.001
    // token/s = 1000 nano/ms; c = 1e9; burst = 2e9.
    "q133_rate_limit" ->
      """WITH RECURSIVE rord AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events
        |), walk AS (
        |  SELECT user_id, 0::BIGINT AS rn, NULL::BIGINT AS event_id,
        |    NULL::BIGINT AS tms, 0::BIGINT AS s
        |  FROM (SELECT DISTINCT user_id FROM rord)
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.event_id, o.tms,
        |    greatest(0, w.s - 1000 * (o.tms - coalesce(w.tms, o.tms)))
        |      + 1000000000 AS s
        |  FROM rord o JOIN walk w
        |    ON o.user_id = w.user_id AND o.rn = w.rn + 1
        |)
        |SELECT event_id, user_id, make_timestamp(tms * 1000) AS ts,
        |  CAST(s AS DOUBLE) / 1000000000.0 AS burst_used,
        |  s > 2000000000 AS violation
        |FROM walk WHERE rn > 0""".stripMargin
  )
}
