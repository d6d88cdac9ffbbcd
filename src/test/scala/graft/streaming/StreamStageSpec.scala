package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.pipeline.{SeriesPoint, SparkTestBase, SyntheticCrawl, CrawlSignals}

class StreamStageSpec extends SparkTestBase {
  import spark.implicits._

  private def crawlPoints(nUrls: Int) =
    CrawlSignals.pageSize(SyntheticCrawl.pagesDF(spark, nUrls, basePoints = 900))
      .collect().sortBy(p => (p.url, p.ts))

  test("batch replay detects change points on regime-shift series") {
    val pts = crawlPoints(8).toSeq.toDS()
    val cfg = StreamStage.Config(nTimepoints = 2048, nWarmup = 200)
    val summaries = StreamStage.summarizeBatch(pts, cfg).collect()
    assert(summaries.length == 8)
    assert(summaries.forall(_.window_size > 0), "all series must warm up")
    assert(summaries.exists(_.n_cps > 0), "at least one series must yield a cp")
  }

  test("snapshot state stays within the config's per-url byte bound") {
    def snapshotBytes(s: graft.kernel.streaming.SegSnapshot): Long =
      8L * (s.warmup.length + s.profile.length + s.kTimeSeries.length +
        s.kCsum.length + s.kCsumsq.length + s.kDcsum.length + s.kMeans.length +
        s.kStds.length + s.kDists.length + s.kDotRolled.length) +
        4L * (s.changePoints.length + s.kKnns.length) + 64L
    val cfg = StreamStage.Config(nTimepoints = 2048, nWarmup = 200)
    val det = new graft.kernel.streaming.StreamingClaSPSegmentation(
      cfg.nTimepoints, cfg.nWarmup, jump = 5, logCps = true)
    // feed past the ring so every buffer is at full size
    val rng = new java.util.Random(7)
    (0 until 3000).foreach(i =>
      det.update(math.sin(2 * math.Pi * i / (if (i < 1500) 12.0 else 40.0)) + 0.1 * rng.nextGaussian()))
    val measured = snapshotBytes(det.snapshot)
    val bound = cfg.stateBytesPerUrl()
    assert(measured <= bound, s"snapshot $measured B exceeds documented bound $bound B")
    assert(measured >= bound / 2, s"bound $bound B is >2x looser than reality ($measured B)")
    // default config (~1.05 MB/url) passes its own guard...
    assert(StreamStage.Config().stateBytesPerUrl() <= StreamStage.Config().maxStateBytesPerUrl)
    // ...and an oversized ring is refused at plan time with actionable text
    val e = intercept[IllegalArgumentException] {
      StreamStage.detectStream(spark.emptyDataset[SeriesPoint],
        StreamStage.Config(nTimepoints = 10000000))
    }
    assert(e.getMessage.contains("maxStateBytesPerUrl"))
  }

  test("streaming sessionization equals batch sessionization") {
    import org.apache.spark.sql.functions._
    val all = crawlPoints(6)
    // crawl cadence is 60 s with a 2-4 bucket skip every 17th step, so a
    // 90 s threshold closes a session at every deterministic gap
    val gapMs = 90000L
    // batch truth: SessionOps over the same points, aggregated to sessions
    val batch = graft.ops.SessionOps
      .sessionize(all.toSeq.toDF(), col("url"), timestamp_millis(col("ts")),
        col("value"), gapMs)
      .groupBy(col("url"), col("session_id"))
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
      .select("url", "s", "e", "n").as[(String, Long, Long, Long)]
      .collect().toSet

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.pipeline.SeriesPoint]
    val q = StreamStage.sessionizeStream(mem.toDS(), gapMs, "1 minute")
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("append").start()
    val sorted = all.sortBy(p => (p.ts, p.url))
    for (chunk <- sorted.grouped(math.max(sorted.length / 3, 1))) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // two sentinel rounds: the first advances the watermark past every open
    // session's timeout, the second triggers the timed-out state handlers
    val far = sorted.last.ts + 365L * 86400000L
    mem.addData(Seq(graft.pipeline.SeriesPoint("sentinel", far, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(graft.pipeline.SeriesPoint("sentinel", far + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("session_stream")
      .filter(col("url") =!= "sentinel")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream ${streamed.size} sessions vs batch ${batch.size}")
    assert(batch.size > 6, "fixture must split at least one url into multiple sessions")
  }

  test("streaming sessionization equals batch sessionization under late arrivals") {
    import org.apache.spark.sql.functions._
    val gapMs = 90000L
    // the crawl fixture plus two urls whose steps sit on the gap boundary:
    // exactly gapMs apart stays in the session, gapMs + 1 opens a new one
    val crawl = crawlPoints(6).toSeq
    val t0 = crawl.map(_.ts).min
    def edge(url: String) = Seq(0L, gapMs, 2 * gapMs + 1, 3 * gapMs + 1, 4 * gapMs + 3)
      .map(d => SeriesPoint(url, t0 + d, 0.0))
    val all = crawl ++ edge("edge") ++ edge("edge-batch")
    val batch = graft.ops.SessionOps
      .sessionize(all.toDF(), col("url"), timestamp_millis(col("ts")),
        col("value"), gapMs)
      .groupBy(col("url"), col("session_id"))
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
      .select("url", "s", "e", "n").as[(String, Long, Long, Long)]
      .collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.sessionizeStream(mem.toDS(), gapMs, "30 minutes")
      .writeStream.format("memory").queryName("session_stream_late")
      .outputMode("append").start()
    // the boundary urls arrive first: "edge-batch" whole in one
    // micro-batch, "edge" one row per micro-batch and out of order, so its
    // merges run against sessions already in the state store
    mem.addData(edge("edge-batch"))
    q.processAllAvailable()
    for (p <- Seq(2, 0, 4, 1, 3).map(edge("edge"))) {
      mem.addData(Seq(p))
      q.processAllAvailable()
    }
    // crawl arrival order perturbed by up to ±10 min, so rows on both sides
    // of a session gap reach the stream out of order across micro-batches.
    // A row is displaced at most 20 min behind the newest row seen before
    // it, inside the 30 min lateness, so no row is watermark-dropped.
    val rng = new scala.util.Random(38)
    val perturbed = crawl.map(p => (p, p.ts + (rng.nextInt(21) - 10) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(180)) {
      mem.addData(chunk)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(SeriesPoint("sentinel", far, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sentinel", far + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("session_stream_late")
      .filter(col("url") =!= "sentinel")
      .as[(String, Long, Long, Long)].collect().toSet
    val (streamOnly, batchOnly) = (streamed -- batch, batch -- streamed)
    assert(streamOnly.isEmpty && batchOnly.isEmpty,
      s"${streamOnly.size} stream-only sessions, e.g. ${streamOnly.take(2)}; " +
        s"${batchOnly.size} batch-only, e.g. ${batchOnly.take(2)}")
    assert(batch.count(_._1 == "edge") == 3, "gap boundary: gapMs joins, gapMs + 1 splits")
  }

  test("streaming rollup equals batch rollup non-gap rows") {
    val all = crawlPoints(6)
    // batch truth: non-gap 1m buckets from the scalable kernel
    val batch = graft.pipeline.Rollup
      .scalableRollup(all.toSeq.toDS(), 60000L, "1m", segment = false)
      .filter(!_.gap_filled).collect()
      .map(r => (r.url, r.bucket_start, r.cnt, math.round(r.sum * 1e6),
        math.round(r.mean * 1e6))).toSet

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.pipeline.SeriesPoint]
    val q = StreamStage.rollupStream(mem.toDS(), 60000L, "1m", "5 minutes")
      .writeStream.format("memory").queryName("rollup_stream")
      .outputMode("append").start()
    val sorted = all.sortBy(_.ts)
    val third = sorted.length / 3
    for (chunk <- sorted.grouped(math.max(third, 1))) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // advance the watermark far past the data so every bucket closes
    val last = sorted.last
    mem.addData(last.copy(ts = last.ts + 86400000L * 2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rollup_stream")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        math.round(r.getDouble(4) * 1e6), math.round(r.getDouble(7) * 1e6)))
      .toSet
    // drop the sentinel point's bucket before comparing
    val sentinelBucket = (last.ts + 86400000L * 2) / 60000L * 60000L
    val streamedClean = streamed.filterNot(t => t._1 == last.url && t._2 == sentinelBucket)
    assert(streamedClean == batch,
      s"stream-only: ${(streamedClean -- batch).take(3)}; batch-only: ${(batch -- streamedClean).take(3)}")
  }

  test("batch replay equals one detector per url fed on the driver in ts order") {
    val cfg = StreamStage.Config(nTimepoints = 2048, nWarmup = 200)
    // three crawl urls, shuffled across partitions, plus one too short to
    // warm up; every url has distinct timestamps
    val crawl = crawlPoints(3).toSeq
    val short = (0 until 150).map(i => SeriesPoint("short", 3600000L + i * 60000L, math.sin(i * 0.3)))
    val all = new scala.util.Random(13).shuffle(crawl ++ short)
    assert(all.groupBy(_.url).values.forall(ps => ps.map(_.ts).distinct.size == ps.size))

    val events = Seq.newBuilder[CpEvent]
    val summaries = all.groupBy(_.url).toSeq.map { case (url, pts) =>
      val det = new graft.kernel.streaming.StreamingClaSPSegmentation(
        cfg.nTimepoints, cfg.nWarmup, logCps = true)
      for (p <- pts.sortBy(_.ts)) {
        val logged = det.changePoints.length
        det.update(p.value)
        for (cp <- det.changePoints.drop(logged)) events += CpEvent(url, cp, det.ingested.toLong)
      }
      StreamSummary(url, pts.size.toLong, if (det.isWarmedUp) det.windowSize else -1,
        det.changePoints.length, det.lastCp)
    }
    val byEvent = Ordering.by((e: CpEvent) => (e.url, e.n_ingested, e.global_cp))
    val wantEvents = events.result().sorted(byEvent)
    assert(wantEvents.nonEmpty, "the fixture must log change points")
    assert(summaries.exists(_.window_size == -1) && summaries.count(_.window_size > 0) == 3)

    val ds = all.toDS().repartition(4)
    assert(StreamStage.detectBatch(ds, cfg).collect().toSeq.sorted(byEvent) == wantEvents)
    assert(StreamStage.summarizeBatch(ds, cfg).collect().toSeq.sortBy(_.url) == summaries.sortBy(_.url))
  }

  test("structured streaming emits the same cps as batch replay") {
    val all = crawlPoints(4)
    val cfg = StreamStage.Config(nTimepoints = 2048, nWarmup = 200)

    val byEvent = Ordering.by((e: CpEvent) => (e.url, e.n_ingested, e.global_cp))
    val batchCps = StreamStage.detectBatch(all.toSeq.toDS(), cfg)
      .collect().toSeq.sorted(byEvent)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.detectStream(mem.toDS(), cfg)
      .writeStream.format("memory").queryName("cps")
      .outputMode("append").start()
    // feed in event-time order, split across three micro-batches per url
    val byUrl = all.groupBy(_.url).values.toSeq
    val batches = (0 until 3).map(i => byUrl.flatMap { pts =>
      val n = pts.length
      pts.slice(i * n / 3, (i + 1) * n / 3)
    })
    batches.foreach { b =>
      mem.addData(b.toSeq)
      q.processAllAvailable() // one micro-batch per chunk, in order
    }
    q.stop()
    val streamCps = spark.table("cps").as[CpEvent]
      .collect().toSeq.sorted(byEvent)
    assert(streamCps == batchCps,
      s"stream $streamCps vs batch $batchCps")
  }

  test("streaming ewma equals the sequential recurrence despite late arrivals") {
    import org.apache.spark.sql.functions._
    val alpha = 0.3
    val rng = new scala.util.Random(11)
    // start at ts = 1h, not 0: Spark's initial watermark is 0 and its
    // late-row filter for stateful ops is inclusive at the boundary, so an
    // epoch-0 event would be dropped in every batch.
    // Row 30 of url "a" duplicates row 29's timestamp (distinct tie): the
    // batch ewma() contract orders dup-ts rows by the tie column, and the
    // stream must agree.
    val all = for (u <- Seq("a", "b"); i <- 0 until 60) yield {
      val ts = if (u == "a" && i == 30) 3600000L + 29 * 60000L
               else 3600000L + i * 60000L
      TiedPoint(u, ts, i.toLong, rng.nextDouble() * 100)
    }
    // sequential truth per url, in (ts, tie) order
    def seqEwma(xs: Seq[Double]): Seq[Double] =
      xs.tail.scanLeft(xs.head)((y, x) => (1 - alpha) * y + alpha * x)
    val expect = all.groupBy(_.url).flatMap { case (u, pts) =>
      val sorted = pts.sortBy(p => (p.ts, p.tie))
      sorted.map(_.tie).zip(seqEwma(sorted.map(_.value))).map {
        case (q, y) => (u, q) -> y
      }
    }

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.ewmaStream(mem.toDS(), alpha, "10 minutes")
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    // arrival order perturbed by up to +-2 min: rows cross micro-batch
    // boundaries out of event-time order. Max event-time displacement =
    // chunk span (10 rows / 2 urls = 5 min) + 2x noise (4 min) = 9 min,
    // inside the 10 min lateness, so no row is watermark-dropped.
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(10)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // two sentinel rounds: advance the watermark past all held rows, then
    // fire the event-time timeouts that flush them
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ewma_stream").as[EwmaOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.tie) -> e.ewma).toMap
    val missing = expect.keySet -- streamed.keySet
    assert(streamed.size == all.size, s"every point must be emitted exactly once " +
      s"(got ${streamed.size} of ${all.size}; missing $missing)")
    for (((k, q2), y) <- expect)
      assert(math.abs(streamed((k, q2)) - y) <= 1e-12 * math.max(1.0, math.abs(y)),
        s"$k#$q2: stream ${streamed((k, q2))} vs sequential $y")
  }

  test("streaming cusum is bit-identical to batch under late arrivals") {
    import org.apache.spark.sql.functions._
    val (k, h) = (50.0, 150.0)
    def cents(v: Double): Long = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
    val rng = new scala.util.Random(17)
    // url "a" row 30 duplicates row 29's ts (distinct tie): dup-ts rows
    // must drain in tie order, matching the batch contract
    val all = for (u <- Seq("a", "b"); i <- 0 until 60) yield {
      val ts = if (u == "a" && i == 30) 3600000L + 29 * 60000L
               else 3600000L + i * 60000L
      TiedPoint(u, ts, i.toLong, rng.nextDouble() * 100)
    }
    // sequential truth in integer cents — the batch op's exact arithmetic
    val expect = all.groupBy(_.url).flatMap { case (u, pts) =>
      val sorted = pts.sortBy(p => (p.ts, p.tie))
      sorted.map(_.tie).zip(
        sorted.map(_.value).scanLeft(0L)((s, x) =>
          math.max(0L, s + cents(x) - cents(k))).tail).map {
        case (q, s) => (u, q) -> ((s.toDouble / 100.0, s > cents(h)))
      }
    }

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.cusumStream(mem.toDS(), k, h, "10 minutes")
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(10)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cusum_stream").as[CusumOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.tie) -> ((e.cusum, e.alarm))).toMap
    assert(streamed.size == all.size,
      s"every point emitted exactly once (got ${streamed.size} of ${all.size})")
    for ((key, want) <- expect)
      assert(streamed(key) == want,   // EXACT — integer-cents statistic
        s"$key: stream ${streamed(key)} vs sequential $want")
  }

  test("streaming change compression emits batch's closed runs under late arrivals") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(41)
    // step levels with runs of 1-6 rows, including value-returns (5→7→5
    // starts a NEW run) and one dup-ts pair that must drain in tie order
    val all = (for (u <- Seq("a", "b")) yield {
      var level = 5.0
      var i = 0
      val pts = Vector.newBuilder[TiedPoint]
      while (i < 60) {
        val len = 1 + rng.nextInt(6)
        for (j <- 0 until math.min(len, 60 - i)) {
          val ts = if (u == "a" && i + j == 31) 3600000L + 30 * 60000L
                   else 3600000L + (i + j) * 60000L
          pts += TiedPoint(u, ts, (i + j).toLong, level)
        }
        i += len
        level = if (rng.nextBoolean()) level + 1.0 else 5.0
      }
      pts.result()
    }).flatten
    // sequential truth: runs in (ts, tie) order; the stream emits every
    // run except each url's final (still-open) one
    val expect = all.groupBy(_.url).flatMap { case (u, pts) =>
      val sorted = pts.sortBy(p => (p.ts, p.tie))
      val runs = Vector.newBuilder[(String, Long, Long, Double, Long)]
      var (rTs, rTie, rVal, rLen) = (sorted.head.ts, sorted.head.tie,
        sorted.head.value, 1L)
      for (p <- sorted.tail) {
        if (p.value == rVal) rLen += 1L
        else {
          runs += ((u, rTs, rTie, rVal, rLen))
          rTs = p.ts; rTie = p.tie; rVal = p.value; rLen = 1L
        }
      }
      runs.result() // the open tail run is intentionally NOT appended
    }.toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.changeStream(mem.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("change_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(10)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("change_stream").as[ChangeOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.ts, e.tie, e.value, e.run_len)).toSet
    assert(streamed == expect,
      s"stream != batch closed runs: extra=${streamed -- expect}, missing=${expect -- streamed}")
    // and the batch op agrees on the SAME input: every streamed run is a
    // batch row, and the only batch rows not streamed are the open tails
    val batch = graft.ops.AnalyticsOps.changeCompress(
        all.toDF(), col("url"), timestamp_millis(col("ts")), col("tie"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(streamed.subsetOf(batch))
    assert((batch -- streamed).size == 2, "one open tail run per url")
  }

  test("streaming hysteresis emits exactly the batch episodes that close") {
    import org.apache.spark.sql.functions._
    // a: fire, dead-band hold, clear, dead-band-from-below hold, fire, clear
    // b: fires on its FIRST bucket, clears, then dead band stays clear
    // c: still firing at end of input — batch reports it, stream must NOT
    //    (the episode never closes)
    val vals = Map(
      "a" -> Seq(50.0, 130.0, 100.0, 55.0, 70.0, 125.0, 140.0, 40.0),
      "b" -> Seq(130.0, 90.0, 50.0, 70.0, 80.0),
      "c" -> Seq(130.0, 125.0))
    val all = for ((u, vs) <- vals.toSeq; (v, i) <- vs.zipWithIndex)
      yield TiedPoint(u, 3600000L + i * 60000L, i.toLong, v)
    val batch = graft.ops.AnalyticsOps.hysteresisAlerts(
        all.toDF("url", "ts", "tie", "value"),
        col("url"), col("ts"), col("value"), hi = 120.0, lo = 60.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(batch.exists(_._1 == "c"), "batch reports the still-open episode")

    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(23)
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.hysteresisStream(mem.toDS(), 120.0, 60.0, "10 minutes")
      .writeStream.format("memory").queryName("hyst_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(4)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hyst_stream").as[AlertEpisode]
      .collect().map(e => (e.url, e.ep_start, e.ep_end, e.n_buckets, e.peak))
      .toSet
    assert(streamed == batch.filterNot(_._1 == "c"),
      "stream == batch episodes that closed; the open c episode stays in state")
  }

  test("streaming m4 equals batch m4 rows on closed buckets, set semantics") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(37)
    val bucketMs = 600000L
    // ties included: duplicate min values must BOTH be kept (set semantics)
    val all = (for (u <- Seq("a", "b"); i <- 0 until 90) yield {
      val v = if (i % 30 == 7) 1.5 else 1.5 + rng.nextInt(50)
      TiedPoint(u, 3600000L + i * 60000L + rng.nextInt(500), i.toLong, v)
    })
    val batch = graft.ops.DownsampleOps.m4(
        all.toDF("url", "tsl", "tie", "value")
          .select(col("url"), timestamp_millis(col("tsl")).as("ts"),
            col("tie"), col("value")),
        col("url"), col("ts"), col("value"), bucketMs)
      .select(col("url"), unix_millis(col("ts")).as("tsl"), col("tie"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.m4Stream(mem.toDS(), bucketMs, "10 minutes")
      .writeStream.format("memory").queryName("m4_stream")
      .outputMode("append").start()
    // precompute the perturbation key: a random key INSIDE sortBy would be
    // re-evaluated per comparison and violate the sort contract
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(9) - 4) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(20)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("m4_stream").as[M4Out]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.ts, o.tie, o.value)).toSet
    assert(streamed == batch,
      s"missing ${batch -- streamed}, extra ${streamed -- batch}")
    assert(batch.size < all.size, "the fixture must actually downsample")
  }

  test("streaming availability and sax words equal batch on closed days") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(47)
    val all = (for (u <- Seq("a", "b"); d <- 0 until 2; h <- 0 until 8;
                    i <- 0 until 1 + rng.nextInt(2)) yield {
      TiedPoint(u, (d * 24L + h) * 3600000L + rng.nextInt(50) * 60000L,
        (d * 100 + h * 10 + i).toLong, rng.nextDouble() * 100.0)
    }).distinct
    val df = all.toDF("url", "tsl", "tie", "value")

    val availBatch = graft.ops.AnalyticsOps.availability(
        df.select(col("url"),
          (col("tsl") - pmod(col("tsl"), lit(86400000L))).as("day"),
          (col("tsl") - pmod(col("tsl"), lit(60000L))).as("b")),
        col("url"), col("day"), col("b"), 60000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(4)))).toMap
    val saxBatch = graft.ops.DownsampleOps.quantileSax(df, col("url"),
        (col("tsl") - pmod(col("tsl"), lit(86400000L))),
        pmod(floor(col("tsl") / lit(3600000L)), lit(24L)), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap

    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[TiedPoint]
    val qA = StreamStage.availabilityStream(memA.toDS(), 60000L, "2 hours")
      .writeStream.format("memory").queryName("avail_stream")
      .outputMode("append").start()
    val memS = MemoryStream[TiedPoint]
    val qS = StreamStage.saxStream(memS.toDS(), 4, "2 hours")
      .writeStream.format("memory").queryName("sax_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(10)) {
      memA.addData(chunk.toSeq); qA.processAllAvailable()
      memS.addData(chunk.toSeq); qS.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    for (q <- Seq((memA, qA), (memS, qS)); k <- 0 to 1) {
      q._1.addData(Seq(TiedPoint("sentinel", far + k, k.toLong, 0.0)))
      q._2.processAllAvailable()
    }
    qA.stop(); qS.stop()
    val availStream = spark.table("avail_stream").as[AvailOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.day) ->
        ((o.observed, o.expected, o.missing, o.longest_gap_ms))).toMap
    val saxStream = spark.table("sax_stream").as[SaxOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.frame) -> ((o.word, o.n_slots))).toMap
    assert(availStream == availBatch,
      s"avail: ${availStream.toSeq.sorted.take(3)} vs ${availBatch.toSeq.sorted.take(3)}")
    assert(saxStream == saxBatch,
      s"sax: ${saxStream.toSeq.sorted.take(3)} vs ${saxBatch.toSeq.sorted.take(3)}")
  }

  test("streaming calendar baseline equals batch bit-for-bit on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(43)
    // 3 days x a few hours per day, two keys, values with 3+ decimals so
    // the HALF_UP cents rounding is actually exercised
    val all = (for (u <- Seq("a", "b"); d <- 0 until 3; h <- Seq(3, 4, 9);
                    i <- 0 until 1 + rng.nextInt(3)) yield {
      TiedPoint(u, 3600000L + (d * 24L + h) * 3600000L + i * 60000L,
        (d * 1000 + h * 10 + i).toLong, rng.nextDouble() * 100.0)
    })
    val batch = graft.ops.AnalyticsOps.calendarBaseline(
        all.toDF("url", "tsl", "tie", "value")
          .select(col("url"), timestamp_millis(col("tsl")).as("ts"),
            col("value")),
        col("url"), col("ts"), col("value"))
      .select(col("key"), unix_millis(col("bucket")).as("b"), col("n"),
        col("mean"), col("baseline"), col("ratio"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.calendarBaselineStream(mem.toDS(), "2 hours")
      .writeStream.format("memory").queryName("cal_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(12)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cal_stream").as[CalOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.bucket) ->
        ((o.n, o.mean, o.baseline, o.ratio))).toMap
    assert(streamed.keySet == batch.keySet,
      s"missing ${batch.keySet -- streamed.keySet}")
    for ((k, b) <- batch)
      assert(streamed(k) == b, s"$k: stream ${streamed(k)} vs batch $b " +
        "(must be BIT-identical: decimal cents + one division per term)")
    assert(batch.values.exists(_._3.isDefined), "fixture must have baselines")
  }

  test("streaming drift equals batch TVD on closed periods, skipping gap days") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(41)
    val day = 86400000L
    // url a: days 1,2,3 with shifting value distribution; url b: days 1, 3
    // (a GAP at day 2 — drift must NOT compare day 3 to day 1)
    val all = (for (u <- Seq("a", "b"); d <- 1 to 3; i <- 0 until 40
                    if !(u == "b" && d == 2)) yield {
      val v = (rng.nextInt(100) + d * 15).toDouble
      TiedPoint(u, d * day + i * 600000L + rng.nextInt(1000), (d * 100 + i).toLong, v)
    })
    val batch = graft.ops.AnalyticsOps.histogramDrift(
        all.toDF("url", "tsl", "tie", "value"),
        col("url"), (col("tsl") - pmod(col("tsl"), lit(day))), day,
        col("value"), binWidth = 25.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(batch.keySet == Set(("a", 2L * day), ("a", 3L * day)),
      "a: day2 vs 1, day3 vs 2; b: nothing — day 3 must NOT compare to " +
        s"day 1 across the gap (got ${batch.keys})")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.driftStream(mem.toDS(), day, 25.0, "6 hours")
      .writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(7) - 3) * 600000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(30)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * day
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("drift_stream").as[DriftOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.period) -> ((o.n, o.m, o.tvd))).toMap
    assert(streamed == batch,
      s"stream $streamed vs batch $batch")
  }

  test("streaming psi drift equals batch on closed periods, skipping gap days") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(43)
    val day = 86400000L
    // url a: days 1..4 with a drifting distribution; url b: days 1, 3
    // (a GAP at day 2 — PSI must NOT compare day 3 to day 1)
    val all = (for (u <- Seq("a", "b"); d <- 1 to 4; i <- 0 until 50
                    if !(u == "b" && (d == 2 || d == 4))) yield {
      val v = (rng.nextInt(80) + d * 20).toDouble
      TiedPoint(u, d * day + i * 600000L + rng.nextInt(1000), (d * 100 + i).toLong, v)
    })
    val batch = graft.ops.AnalyticsOps.psiDrift(
        all.toDF("url", "tsl", "tie", "value"),
        col("url"), (col("tsl") - pmod(col("tsl"), lit(day))), day,
        col("value"), binWidth = 25.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(batch.keySet == Set(("a", 2L * day), ("a", 3L * day),
      ("a", 4L * day)),
      "a: days 2-4 vs predecessors; b: nothing across the gap " +
        s"(got ${batch.keys})")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.psiDriftStream(mem.toDS(), day, 25.0,
        lateness = "6 hours")
      .writeStream.format("memory").queryName("psi_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(7) - 3) * 600000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(30)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * day
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("psi_stream").as[PsiOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.period) -> ((o.n, o.m, o.psi))).toMap
    assert(streamed == batch,
      s"stream $streamed vs batch $batch (must be BIT-identical: " +
        "same ascending-bin fold, same eps substitution)")
  }

  test("drift twins drop a beyond-lateness straggler instead of re-opening its closed period") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(59)
    val day = 86400000L
    // days 1..4 for one url; a straggler into CLOSED day 1 arrives while
    // the watermark sits inside day 3 (url a's state is still alive). It
    // must influence NOTHING: Spark's own stateful-op filter drops input
    // strictly older than the watermark (verified here — see the verify
    // skill's boundary note), and histDriftReplay's p <= prevPeriod
    // ingestion guard is the defense-in-depth for any path that resurfaces
    // such a row (a closed period re-opening would re-close, REGRESS
    // prevPeriod and overwrite the previous histogram with the
    // straggler-only one, swallowing the next period's output). Bodies
    // start 1h into each day so no legitimate row sits at the watermark
    // boundary (the late filter is inclusive there).
    val days = for (d <- 1 to 4; i <- 0 until 40) yield
      TiedPoint("a", d * day + 3600000L + i * 600000L, (d * 100 + i).toLong,
        (rng.nextInt(80) + d * 20).toDouble)
    val batch = graft.ops.AnalyticsOps.psiDrift(
        days.toDF("url", "tsl", "tie", "value"),
        col("url"), (col("tsl") - pmod(col("tsl"), lit(day))), day,
        col("value"), binWidth = 25.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

    assert(batch.keySet == Set(("a", 2L * day), ("a", 3L * day), ("a", 4L * day)))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.psiDriftStream(mem.toDS(), day, 25.0,
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("psi_straggler")
      .outputMode("append").start()
    // days 1-2, then a sentinel-url row pushing the watermark just past
    // day 2's close (wm = 3d + 1ms; url a's state stays alive until 4d)
    mem.addData(days.filter(_.ts < 3 * day))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("s", 3 * day + 600000L + 1, 999L, 50.0)))
    q.processAllAvailable()
    // the beyond-lateness straggler into url a's CLOSED day 1
    mem.addData(Seq(TiedPoint("a", day + 5 * 3600000L, 998L, 50.0)))
    q.processAllAvailable()
    // days 3-4 body, then a sentinel closing them
    mem.addData(days.filter(_.ts >= 3 * day))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("s", 5 * day + 600000L + 1, 997L, 50.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("psi_straggler").as[PsiOut]
      .filter(col("url") === "a")
      .collect().map(o => (o.url, o.period) -> ((o.n, o.m, o.psi))).toMap
    // the straggler influenced NOTHING: every closed period matches the
    // straggler-free batch bit-for-bit — in particular day 3 exists (a
    // prevPeriod regression would have silently swallowed it)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming emd+ks drift equals batch on closed periods, skipping gap days") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(53)
    val day = 86400000L
    // url a: days 1..4 with a drifting distribution (mass moves FAR so the
    // lead-gap products matter); url b: days 1, 3 (a GAP at day 2)
    val all = (for (u <- Seq("a", "b"); d <- 1 to 4; i <- 0 until 50
                    if !(u == "b" && (d == 2 || d == 4))) yield {
      val v = (rng.nextInt(80) + d * d * 15).toDouble
      TiedPoint(u, d * day + i * 600000L + rng.nextInt(1000), (d * 100 + i).toLong, v)
    })
    val batch = graft.ops.AnalyticsOps.emdKsDrift(
        all.toDF("url", "tsl", "tie", "value"),
        col("url"), (col("tsl") - pmod(col("tsl"), lit(day))), day,
        col("value"), binWidth = 25.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(batch.keySet == Set(("a", 2L * day), ("a", 3L * day),
      ("a", 4L * day)),
      "a: days 2-4 vs predecessors; b: nothing across the gap " +
        s"(got ${batch.keys})")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.emdKsDriftStream(mem.toDS(), day, 25.0,
        lateness = "6 hours")
      .writeStream.format("memory").queryName("emd_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(7) - 3) * 600000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(30)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * day
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("emd_stream").as[EmdOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.period) -> ((o.n, o.m, o.emd, o.ks))).toMap
    assert(streamed == batch,
      s"stream $streamed vs batch $batch (must be BIT-identical: " +
        "same integer cumulative identity, same division order)")
  }

  test("streaming rbo drift equals batch on closed consecutive periods") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(47)
    val day = 86400000L
    // days 1,2,4,5 with a day-shifted item popularity window (a GAP at
    // day 3 — day 4 must NOT compare to day 2); ties in counts exercise
    // the (count DESC, item ASC) deterministic rank order
    val all = for (d <- Seq(1, 2, 4, 5); i <- 0 until 120) yield
      RboEvent(f"u${rng.nextInt(12) + d}%02d",
        d * day + i * 600000L + rng.nextInt(1000))
    val batch = graft.ops.AnalyticsOps.rboDrift(
        all.toDF("item", "tsl"),
        col("item"), (col("tsl") - pmod(col("tsl"), lit(day))), day,
        k = 5, p = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(batch.keySet == Set(2L * day, 5L * day),
      "day 2 vs 1 and day 5 vs 4 only — no pair across the day-3 gap " +
        s"(got ${batch.keys})")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RboEvent]
    val q = StreamStage.rboDriftStream(mem.toDS(), day, k = 5, p = 0.9,
        lateness = "6 hours")
      .writeStream.format("memory").queryName("rbo_stream")
      .outputMode("append").start()
    val perturbed = all.map(e => (e, e.ts + (rng.nextInt(7) - 3) * 600000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(30)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * day
    mem.addData(Seq(RboEvent("zz-sentinel", far)))
    q.processAllAvailable()
    mem.addData(Seq(RboEvent("zz-sentinel", far + 1)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rbo_stream").as[RboOut]
      .collect().map(o => o.period -> ((o.overlap_k, o.rbo))).toMap
    assert(streamed == batch,
      s"stream $streamed vs batch $batch (must be BIT-identical: " +
        "same (m, item)-ordered weight fold)")
  }

  test("streaming slo burn rate equals batch on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(31)
    // two keys, 30 hours each, bursty error pattern (value 1.0 = error)
    val all = for (u <- Seq("svc-a", "svc-b"); h <- 0 until 30;
                   i <- 0 until 1 + rng.nextInt(4)) yield {
      val isErr = if (u == "svc-a" && h >= 10 && h <= 13) rng.nextInt(2)
                  else if (rng.nextInt(10) == 0) 1 else 0
      TiedPoint(u, 3600000L + h * 3600000L + i * 60000L + rng.nextInt(1000),
        (h * 10 + i).toLong, isErr.toDouble)
    }
    val batch = graft.ops.AnalyticsOps.sloBurnRate(
        all.toDF("url", "tsl", "tie", "value")
          .select(col("url"), timestamp_millis(col("tsl")).as("ts"), col("value")),
        col("url"), col("ts"), col("value") > 0,
        budget = 0.25, shortMs = 3600000L, longMs = 6L * 3600000L,
        threshold = 1.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6)))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.sloBurnStream(mem.toDS(), budget = 0.25,
        shortMs = 3600000L, longMs = 6L * 3600000L, threshold = 1.0,
        lateness = "2 hours")
      .writeStream.format("memory").queryName("slo_stream")
      .outputMode("append").start()
    // perturb arrival by up to +-30 min, inside the 2h lateness
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(61) - 30) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(25)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slo_stream").as[SloOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(o => (o.url, o.bucket) ->
        ((o.err, o.tot, o.burn_short, o.burn_long, o.alert))).toMap
    assert(streamed.keySet == batch.keySet,
      s"every bucket emitted exactly once (missing ${batch.keySet -- streamed.keySet})")
    for ((k, b) <- batch)
      assert(streamed(k) == b, s"$k: stream ${streamed(k)} vs batch $b")
    assert(batch.values.exists(_._5), "the fixture must trip at least one alert")
  }

  test("streaming holt equals the sequential recurrence despite late arrivals") {
    import org.apache.spark.sql.functions._
    val (alpha, betaT) = (0.4, 0.2)
    val rng = new scala.util.Random(17)
    val all = for (u <- Seq("a", "b"); i <- 0 until 60)
      yield TiedPoint(u, 3600000L + i * 60000L, i.toLong, 0.5 * i + rng.nextDouble() * 10)
    def seqHolt(xs: Seq[Double]): Seq[(Double, Double)] = {
      var l = xs.head; var b = 0.0
      (l, b) +: xs.tail.map { x =>
        val lPrev = l
        l = alpha * x + (1 - alpha) * (l + b)
        b = betaT * (l - lPrev) + (1 - betaT) * b
        (l, b)
      }
    }
    val expect = all.groupBy(_.url).flatMap { case (u, pts) =>
      val sorted = pts.sortBy(p => (p.ts, p.tie))
      sorted.map(_.tie).zip(seqHolt(sorted.map(_.value))).map {
        case (q, lb) => (u, q) -> lb
      }
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.holtStream(mem.toDS(), alpha, betaT, "10 minutes")
      .writeStream.format("memory").queryName("holt_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(10)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("holt_stream").as[HoltOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.tie) -> ((e.level, e.trend, e.forecast))).toMap
    assert(streamed.size == all.size,
      s"every point emitted exactly once (got ${streamed.size} of ${all.size})")
    for (((k, qq), (el, eb)) <- expect) {
      val (l, b, f) = streamed((k, qq))
      assert(math.abs(l - el) <= 1e-12 * math.max(1.0, math.abs(el)), s"$k#$qq level $l vs $el")
      assert(math.abs(b - eb) <= 1e-12 * math.max(1.0, math.abs(eb)), s"$k#$qq trend $b vs $eb")
      assert(f == l + b, "forecast = level + trend")
    }
  }

  test("streaming holt-winters equals the sequential recurrence despite late arrivals") {
    import org.apache.spark.sql.functions._
    val (alpha, betaT, gamma, m) = (0.4, 0.2, 0.3, 5)
    val rng = new scala.util.Random(19)
    val season = Array.tabulate(m)(j => 4.0 * math.sin(2 * math.Pi * j / m))
    val all = for (u <- Seq("a", "b"); i <- 0 until 60)
      yield TiedPoint(u, 3600000L + i * 60000L, i.toLong,
        0.3 * i + season(i % m) + rng.nextDouble())
    // same reference recurrence as the batch spec (AnalyticsOpsSpec seqHw)
    def seqHw(xs: Seq[Double]): Seq[(Double, Double, Double, Double)] = {
      var l = xs.head; var b = 0.0
      var q = Vector.fill(m)(0.0)
      xs.map { x =>
        val qm = q.last
        val lPrev = l
        l = (1 - alpha) * (l + b) + alpha * (x - qm)
        b = betaT * (l - lPrev) + (1 - betaT) * b
        val s = gamma * (x - l) + (1 - gamma) * qm
        q = s +: q.init
        (l, b, s, l + b + q.last)
      }
    }
    val expect = all.groupBy(_.url).flatMap { case (u, pts) =>
      val sorted = pts.sortBy(p => (p.ts, p.tie))
      sorted.map(_.tie).zip(seqHw(sorted.map(_.value))).map {
        case (q, t) => (u, q) -> t
      }
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.holtWintersStream(mem.toDS(), alpha, betaT, gamma, m, "10 minutes")
      .writeStream.format("memory").queryName("hw_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(10)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hw_stream").as[HwStreamOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.tie) ->
        ((e.level, e.trend, e.seasonal, e.forecast))).toMap
    assert(streamed.size == all.size,
      s"every point emitted exactly once (got ${streamed.size} of ${all.size})")
    for (((k, qq), (el, eb, es, ef)) <- expect) {
      val (l, b, s, f) = streamed((k, qq))
      def ck(g0: Double, e: Double, what: String) =
        assert(math.abs(g0 - e) <= 1e-12 * math.max(1.0, math.abs(e)),
          s"$k#$qq $what: $g0 vs $e")
      ck(l, el, "level"); ck(b, eb, "trend"); ck(s, es, "seasonal"); ck(f, ef, "forecast")
    }
  }

  test("streaming heavy hitters equal batch per-bucket top-k on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(29)
    val items = Seq("click", "view", "purchase", "error", "login", "logout")
    val bucketMs = 3600000L
    // 4 hourly buckets of skewed item draws, starting at ts = 1h
    val all = for (b <- 0 until 4; i <- 0 until 200) yield {
      val it = items(math.min(rng.nextInt(items.length), rng.nextInt(items.length)))
      ItemPoint(3600000L + b * bucketMs + rng.nextInt(bucketMs.toInt), it)
    }
    // batch truth via the same operator family (exact regime: capacity 64)
    val batch = graft.ops.HeavyHitters.perBucket(
        all.toDF(), (col("ts") - pmod(col("ts"), lit(bucketMs))), col("item"),
        capacity = 64, k = 3)
      .collect().map(r => (r.getString(0).toLong, r.getLong(4)) ->
        ((r.getString(1), r.getLong(2)))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ItemPoint]
    // lateness must cover the FULL shuffle displacement (the whole 5h
    // span), or the watermark drops early-bucket rows arriving late
    val q = StreamStage.heavyHittersStream(mem.toDS(), bucketMs,
        capacity = 64, k = 3, "6 hours")
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("append").start()
    // shuffled arrival: SpaceSaving is order-insensitive below capacity
    for (chunk <- rng.shuffle(all).grouped(100)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(ItemPoint(far, "sentinel")))
    q.processAllAvailable()
    mem.addData(Seq(ItemPoint(far + 1, "sentinel")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hh_stream").as[HHBucketOut]
      .filter(col("item") =!= "sentinel")
      .collect().map(e => (e.bucket_start, e.rank) -> ((e.item, e.est))).toMap
    assert(streamed.size == 12, s"4 closed buckets x top-3 (got ${streamed.size})")
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming quantile sketches equal exact quantiles on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(37)
    val bucketMs = 3600000L
    // 2 urls x 3 hourly buckets x 50 points, all below the k=256 capacity,
    // so the sketch quantile is EXACTLY quantile_cont on the group
    val all = for (u <- Seq("a", "b"); b <- 0 until 3; _ <- 0 until 50)
      yield SeriesPoint(u, 3600000L + b * bucketMs + rng.nextInt(bucketMs.toInt),
        rng.nextDouble() * 100)
    def cont(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val f = pos - lo
      if (f == 0) s(lo) else s(lo) + f * (s(lo + 1) - s(lo))
    }
    val expect = all.groupBy(p => (p.url, p.ts / bucketMs * bucketMs))
      .map { case (k, ps) =>
        k -> ((ps.size.toLong, cont(ps.map(_.value), 0.5), cont(ps.map(_.value), 0.95)))
      }

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    // full-shuffle arrival needs lateness covering the whole span
    val q = StreamStage.sketchQuantilesStream(mem.toDS(), bucketMs, 256, "5 hours")
      .writeStream.format("memory").queryName("quant_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(60)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(SeriesPoint("sentinel", far, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sentinel", far + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("quant_stream").as[QuantileBucketOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.bucket_start) -> ((e.n, e.p50, e.p95))).toMap
    assert(streamed.size == 6, s"6 closed (url, bucket) groups (got ${streamed.size})")
    for ((k, (n, p50, p95)) <- expect) {
      val (sn, s50, s95) = streamed(k)
      assert(sn == n, s"$k count $sn vs $n")
      assert(s50 == p50, s"$k p50 $s50 vs $p50 (exact below capacity)")
      assert(s95 == p95, s"$k p95 $s95 vs $p95")
    }
  }

  test("streaming actives sketches equal batch HLL rows exactly on closed days") {
    import org.apache.spark.sql.functions._
    val dayMs = 86400000L
    val rng = new scala.util.Random(83)
    // 3 days; users overlap across days; duplicates within a day exercise
    // the distinct; shuffled arrival exercises merge-order insensitivity
    val all = for (d <- 1 to 3; i <- 0 until 120) yield ActivityPoint(
      s"u${rng.nextInt(40)}", s"t${rng.nextInt(5)}",
      d * dayMs + rng.nextInt(86400) * 1000L)
    val batch = all.toDF()
      .groupBy(date_trunc("day", timestamp_millis(col("ts"))).as("day"))
      .agg(count(lit(1)).as("cnt"),
        approx_count_distinct(col("user"), 0.02).as("users_approx"),
        approx_count_distinct(col("etype"), 0.02).as("types_approx"))
      .collect().map(r => r.getTimestamp(0).getTime ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ActivityPoint]
    val q = StreamStage.activesStream(mem.toDS(), 0.02, "10 minutes")
      .writeStream.format("memory").queryName("actives_stream")
      .outputMode("append").start()
    // arrival order perturbed within the lateness window (±5 min vs 10),
    // so rows land out of order but never below the watermark
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(11) - 5) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(50)) {
      mem.addData(chunk.toSeq); q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * dayMs
    mem.addData(Seq(ActivityPoint("s", "s", far))); q.processAllAvailable()
    mem.addData(Seq(ActivityPoint("s", "s", far + 1))); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("actives_stream")
      .filter(col("day") < timestamp_millis(lit(far - dayMs)))
      .collect().map(r => r.getTimestamp(0).getTime ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed.keySet == batch.keySet, s"all 3 days closed: $streamed")
    for ((d, b) <- batch)
      assert(streamed(d) == b,
        s"day $d: HLL register merge is order-insensitive, so stream " +
          s"${streamed(d)} must equal batch $b EXACTLY")
  }

  test("streaming staleness fires absent alerts at the watermark and matches batch") {
    import org.apache.spark.sql.functions._
    val H = 3600000L
    val base = H // epoch-0 watermark gotcha: keep every ts >= 1h
    // steady reports every 30 min; dead stops immediately; flappy stops,
    // recovers at base+4H, then stops for good; edge's last point sits
    // EXACTLY threshold before the anchor (boundary: batch not stale,
    // stream not yet fired)
    val steady = (0 to 12).map(k => SeriesPoint("steady", base + k * 1800000L, 0.0))
    val dead = Seq(SeriesPoint("dead", base, 0.0))
    // flappy returns with TWO points in the same chunk — the recovery
    // event must carry the FIRST newer ts (4H), not the batch max (4.5H),
    // so emitted rows are chunking-invariant
    val flappy = Seq(SeriesPoint("flappy", base, 0.0),
      SeriesPoint("flappy", base + 1800000L, 0.0),
      SeriesPoint("flappy", base + 4 * H, 0.0),
      SeriesPoint("flappy", base + 4 * H + 1800000L, 0.0))
    val edge = Seq(SeriesPoint("edge", base, 0.0), SeriesPoint("edge", base + 5 * H, 0.0))
    val real = steady ++ dead ++ flappy ++ edge

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.staleStream(mem.toDS(), thresholdMs = H, "10 minutes")
      .writeStream.format("memory").queryName("stale_stream")
      .outputMode("append").start()
    // event-time-ordered chunks split on hour boundaries: an alert fires
    // only in a batch where its key is quiet, so the chunking (not just
    // the order) pins the watermark path — flappy's 1H30m deadline must
    // pass in a flappy-less batch BEFORE its base+4H return arrives
    val bounds = Seq(base + 1800000L, base + 3 * 1800000L, base + 5 * 1800000L,
      base + 7 * 1800000L, base + 9 * 1800000L, base + 5 * H, base + 6 * H)
    val sorted = real.sortBy(p => (p.ts, p.url))
    val chunks = bounds.zipWithIndex.map { case (hi, i) =>
      val lo = if (i == 0) Long.MinValue else bounds(i - 1)
      sorted.filter(p => p.ts > lo && p.ts <= hi)
    }.filter(_.nonEmpty)
    assert(chunks.map(_.size).sum == real.size, "chunking must cover every point")
    for (chunk <- chunks) {
      mem.addData(chunk)
      q.processAllAvailable()
    }
    // park the watermark EXACTLY at the last real point (lateness = 10 min)
    val anchorTs = real.map(_.ts).max
    mem.addData(Seq(SeriesPoint("sent", anchorTs + 600000L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sent", anchorTs + 600001L, 0.0)))
    q.processAllAvailable()

    def events() = spark.table("stale_stream").as[StaleEvent]
      .filter(col("url") =!= "sent").collect().toSeq
    // with the watermark == batch anchor, the stream's unresolved-alert set
    // IS the batch op's stale set — threshold-boundary key included
    val unresolved = events().groupBy(_.url)
      .filter { case (_, es) => es.maxBy(_.at).kind == "stale" }.keySet
    val batchStale = graft.ops.AnalyticsOps.staleness(
        real.toDF("url", "ts", "value")
          .withColumn("ts", timestamp_millis(col("ts"))),
        col("url"), col("ts"),
        real.toDF("url", "ts", "value").agg(max(col("ts")).as("anchor_ms")),
        thresholdMs = H)
      .filter(col("stale")).select("key").collect().map(_.getString(0)).toSet
    assert(unresolved == batchStale && batchStale == Set("dead", "flappy"),
      s"unresolved stream alerts $unresolved must equal batch stale set $batchStale")
    assert(!unresolved.contains("edge"), "age == threshold is not stale on either side")

    // far-future flush: every key's trailing silence becomes a final alert
    mem.addData(Seq(SeriesPoint("sent", anchorTs + 30L * 86400000L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sent", anchorTs + 30L * 86400000L + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val byUrl = events().groupBy(_.url).view
      .mapValues(_.sortBy(_.at).map(e => (e.kind, e.last_ts, e.at))).toMap
    assert(byUrl("dead") == Seq(("stale", base, base + H)))
    assert(byUrl("flappy") == Seq(
      ("stale", base + 1800000L, base + 1800000L + H),
      // recovery pins to the FIRST newer point even though 4H and 4.5H
      // arrive in one batch; state still advances to the batch max
      ("recovered", base + 4 * H, base + 4 * H),
      ("stale", base + 4 * H + 1800000L, base + 4 * H + 1800000L + H)),
      "a back-filled gap alerts only while actually absent at the frontier")
    assert(byUrl("steady") == Seq(("stale", base + 6 * H, base + 7 * H)),
      "steady key alerts only once the stream's frontier leaves it behind")
    assert(byUrl("edge") == Seq(
      ("stale", base, base + H),                   // the base -> 5H gap alerts…
      ("recovered", base + 5 * H, base + 5 * H),   // …and resolves on return
      ("stale", base + 5 * H, base + 6 * H)))      // final flush past the edge
  }

  test("streaming delta/rate equals batch under late arrivals") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(23)
    // irregular spacing so rates differ row to row; url "a" gets one dup-ts
    // pair (ties 29/30) to pin NULL-rate and tie-order semantics
    val all = for (u <- Seq("a", "b"); i <- 0 until 60) yield {
      val ts = if (u == "a" && i == 30) 3600000L + 29 * 60000L
               else 3600000L + i * 60000L + (if (i % 7 == 3) 15000L else 0L)
      TiedPoint(u, ts, i.toLong, rng.nextDouble() * 100)
    }
    // batch truth over the same rows
    val batchDf = all.toDF()
    val batch = graft.ops.AnalyticsOps.deltaRate(batchDf,
        col("url"), timestamp_millis(col("ts")), col("tie"), col("value"))
      .select(col("url"), col("tie"), col("delta"), col("rate"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.deltaRateStream(mem.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("delta_stream")
      .outputMode("append").start()
    val perturbed = all.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 60000L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(10)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("delta_stream").as[DeltaOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.tie) -> ((e.delta, e.rate))).toMap
    assert(streamed.size == all.size,
      s"every point emitted exactly once (got ${streamed.size} of ${all.size})")
    for ((k, (bd, br)) <- batch) {
      val (sd, sr) = streamed(k)
      def close(a: Option[Double], b: Option[Double]) = (a, b) match {
        case (None, None) => true
        case (Some(x), Some(y)) => math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y))
        case _ => false
      }
      assert(close(sd, bd), s"$k delta: stream $sd vs batch $bd")
      assert(close(sr, br), s"$k rate: stream $sr vs batch $br")
    }
    // the dup-ts row must have a delta but a NULL rate in both engines
    assert(batch(("a", 30L))._1.isDefined && batch(("a", 30L))._2.isEmpty,
      "fixture's dup-ts row must exercise the NULL-rate edge")
  }

  test("streaming z-scores equal batch z-scores on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(61)
    val bucketMs = 3600000L
    val all = (for (u <- Seq("a", "b"); b <- 0 until 3; _ <- 0 until 40) yield
      SeriesPoint(u, 3600000L + b * bucketMs + rng.nextInt(bucketMs.toInt),
        rng.nextGaussian() * 5.0 + 20.0)) ++
      // a constant bucket exercises the zero-variance None edge
      (0 until 5).map(i => SeriesPoint("flat", 3600000L + i * 60000L, 7.0))
    val batch = graft.ops.AnalyticsOps.zscore(
        all.toDF(), col("url"), (col("ts") - pmod(col("ts"), lit(bucketMs))),
        col("value"), 2.5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)) ->
        ((Option(r.get(r.fieldIndex("z"))).map(_.asInstanceOf[Double]),
          r.getBoolean(r.fieldIndex("is_outlier")))))
      .toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.zscoreStream(mem.toDS(), bucketMs, 2.5, "4 hours")
      .writeStream.format("memory").queryName("z_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(60)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(SeriesPoint("sentinel", far, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sentinel", far + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("z_stream").as[ZscoreOut]
      .filter(col("url") =!= "sentinel")
      .collect()
      .map(e => (e.url, e.ts, math.round(e.value * 1e9)) -> ((e.z, e.is_outlier)))
      .toMap
    assert(streamed.size == all.size, s"${streamed.size} of ${all.size} rows emitted")
    var outliers = 0
    for ((k, (bz, bo)) <- batch) {
      val kk = (k._1, k._2, k._3)
      val (sz, so) = streamed(kk)
      (bz, sz) match {
        case (None, None) =>
        case (Some(x), Some(y)) =>
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)), s"$kk z: $y vs $x")
        case other => fail(s"$kk z mismatch: $other")
      }
      assert(so == bo, s"$kk outlier flag")
      if (so) outliers += 1
    }
    assert(outliers > 0, "fixture must actually contain outliers")
    assert(streamed.filter(_._1._1 == "flat").forall(_._2._1.isEmpty),
      "constant bucket yields z = None")
  }

  test("streaming mad outliers equal batch exactly on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(67)
    val bucketMs = 3600000L
    // spiky values: mostly 10-30 with occasional 200s so MAD flags fire;
    // plus an even-count bucket (lower-median edge) and a majority-constant
    // bucket (zero-MAD edge)
    val all = (for (u <- Seq("a", "b"); b <- 0 until 3; i <- 0 until 21) yield {
      val v = if (i % 10 == 9) 200.0 + rng.nextInt(100) else 10.0 + rng.nextInt(2000) / 100.0
      TiedPoint(u, 3600000L + b * bucketMs + rng.nextInt(bucketMs.toInt),
        (u.hashCode.toLong << 32) | (b * 100 + i).toLong, v)
    }) ++
      (0 until 4).map(i => TiedPoint("even", 3600000L + i * 60000L, i.toLong,
        Seq(1.0, 2.0, 3.0, 4.0)(i))) ++
      (0 until 5).map(i => TiedPoint("flat", 3600000L + i * 60000L, i.toLong,
        if (i == 4) 50.0 else 7.0))
    val batch = graft.ops.AnalyticsOps.madOutliers(
        all.toDF(), col("url"), (col("ts") - pmod(col("ts"), lit(bucketMs))),
        col("tie"), col("value"), 3.0)
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getDouble(4), r.getDouble(5), r.getBoolean(6))))
      .toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.madStream(mem.toDS(), bucketMs, 3.0, "4 hours")
      .writeStream.format("memory").queryName("mad_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(40)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mad_stream").as[MadOut]
      .filter(col("url") =!= "sentinel")
      .collect()
      .map(e => (e.url, e.tie) -> ((e.median, e.mad, e.is_outlier)))
      .toMap
    assert(streamed.size == all.size, s"${streamed.size} of ${all.size} rows emitted")
    for ((k, want) <- batch)
      assert(streamed(k) == want, s"$k: stream ${streamed(k)} vs batch $want")
    assert(streamed.count(_._2._3) > 0, "fixture must contain outliers")
    assert(streamed(("even", 1L))._1 == 2.0, "even bucket takes the LOWER median")
    assert(streamed(("flat", 4L)) == ((7.0, 0.0, true)), "zero-MAD flags deviation")
  }

  test("streaming as-of enrichment equals batch asofJoin under late arrivals") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(73)
    val hour = 3600000L
    // unique (url, ts) right rows (batch parity contract); left rows include
    // exact-ts ties with right rows and a head row before any right row
    val rights = for (u <- Seq("a", "b"); i <- 0 until 40) yield
      TiedPoint(u, hour + i * 977000L, 1000L + i, 100.0 + i + (if (u == "a") 0.5 else 0.0))
    val lefts = (for (u <- Seq("a", "b"); i <- 0 until 120) yield
      TiedPoint(u, hour - 500000L + rng.nextInt(40 * 977000 + 1000000),
        i.toLong, rng.nextInt(1000) / 10.0)) ++
      Seq(TiedPoint("a", hour + 5 * 977000L, 900L, 7.0)) // exact-ts tie: matches
    val leftDf = lefts.toDF()
    val rightDf = rights.map(r => (r.url, r.ts, r.value)).toDF("url", "ts", "sig")
    val batch = graft.ops.AsofOps.asofJoin(leftDf, rightDf, "url", "ts", Seq("sig"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        Option(r.get(4)).map(_.asInstanceOf[Double]))
      .toMap

    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[TiedPoint]
    val memR = MemoryStream[TiedPoint]
    // lateness exceeds the full fixture span (~11 h): fully shuffled
    // arrival must never watermark-drop a row
    val q = StreamStage.asofStream(memL.toDS(), memR.toDS(), "24 hours")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    val mixed = rng.shuffle(lefts.map(p => (p, true)) ++ rights.map(p => (p, false)))
    for (chunk <- mixed.grouped(50)) {
      memL.addData(chunk.filter(_._2).map(_._1))
      memR.addData(chunk.filterNot(_._2).map(_._1))
      q.processAllAvailable()
    }
    val far = (lefts ++ rights).map(_.ts).max + 365L * 86400000L
    memL.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    memL.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof_stream").as[AsofOut]
      .filter(col("url") =!= "sentinel")
      .collect()
      .map(e => (e.url, e.tie) -> e.payload)
      .toMap
    assert(streamed.size == lefts.size, s"${streamed.size} of ${lefts.size} left rows")
    for ((k, want) <- batch)
      assert(streamed(k) == want, s"$k: stream ${streamed(k)} vs batch $want")
    assert(streamed.values.exists(_.isEmpty), "head rows before any signal -> None")
    assert(streamed(("a", 900L)) == Some(100.5 + 5),
      "equal-ts right row matches (ASOF tie rule)")
  }

  test("streaming histogram equals batch histogram on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(53)
    val bucketMs = 3600000L
    // 2 urls x 3 hourly buckets of values spanning several width-10 bins
    val all = for (u <- 0 until 2; b <- 0 until 3; _ <- 0 until 60) yield
      SeriesPoint(s"u$u", 3600000L + b * bucketMs + rng.nextInt(bucketMs.toInt),
        rng.nextDouble() * 80.0 - 15.0)
    val batch = graft.ops.AnalyticsOps.histogram(
        all.toDF(), col("url"), (col("ts") - pmod(col("ts"), lit(bucketMs))),
        col("value"), 10.0)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), math.round(r.getDouble(4) * 1e6), math.round(r.getDouble(5) * 1e6))))
      .toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.histogramStream(mem.toDS(), bucketMs, 10.0, "4 hours")
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(80)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(SeriesPoint("sentinel", far, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sentinel", far + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hist_stream")
      .filter(col("url") =!= "sentinel")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), math.round(r.getDouble(4) * 1e6), math.round(r.getDouble(5) * 1e6))))
      .toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming twa equals batch twa exactly on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(67)
    val h = 3600000L
    // 2 urls x 3 hourly buckets, 2-decimal values, one dup-ts pair
    val all = (for (u <- 0 until 2; b <- 0 until 3; i <- 0 until 25) yield
      (s"u$u", h + b * h + rng.nextInt(h.toInt).toLong, (u * 1000 + b * 100 + i).toLong,
        math.floor(rng.nextDouble() * 9000) / 100.0)) ++
      Seq(("u0", h + 77L, 9998L, 1.25), ("u0", h + 77L, 9999L, 7.5))
    val batch = graft.ops.AnalyticsOps.timeWeightedAvg(
        all.toDF("url", "tsl", "tie", "value")
          .withColumn("ts", timestamp_millis(col("tsl"))),
        col("url"), (col("tsl") - pmod(col("tsl"), lit(h))).as("bucket"),
        col("ts"), col("tie"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(4)).map(_.asInstanceOf[Double]), r.getLong(2),
          r.getLong(3)))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.twaStream(mem.toDS(), h, "4 hours")
      .writeStream.format("memory").queryName("twa_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(40)) {
      mem.addData(chunk.map(TiedPoint.tupled).toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_._2).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("twa_stream")
      .filter(col("url") =!= "sentinel")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3),
          r.getLong(4)))).toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming funnel emits batch funnel's step completions under late arrivals") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(61)
    val h = 3600000L
    val steps = Seq("A", "B", "C")
    // 30 users with random walks over step + noise events; include users
    // that stall at every depth and out-of-order step times
    val all = (for (u <- 0 until 30; i <- 0 until 12) yield {
      val t = h + rng.nextInt(6 * h.toInt).toLong
      val et = Seq("A", "B", "C", "noise")(rng.nextInt(4))
      (s"u$u", t, (u * 100 + i).toLong, et)
    }).toSeq
    val batch = graft.ops.FunnelOps.funnel(
        all.toDF("user", "tsl", "tie", "etype")
          .withColumn("ts", timestamp_millis(col("tsl"))),
        col("user"), col("ts"), col("etype"), steps)
      .collect().flatMap { r =>
        (1 to 3).flatMap(i => Option(r.getTimestamp(i))
          .map(ts => (r.getString(0), i, ts.getTime)))
      }.toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long, String)]
    val q = StreamStage.funnelStream(
        mem.toDS().toDF("user", "ts", "tie", "etype"), steps, "12 hours")
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(50)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_._2).max + 365L * 86400000L
    mem.addData(Seq(("sentinel", far, 0L, "A")))
    q.processAllAvailable()
    mem.addData(Seq(("sentinel", far + 1, 1L, "A")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_stream")
      .filter(col("user") =!= "sentinel")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; " +
        s"batch-only: ${(batch -- streamed).take(3)}")
  }

  test("streaming ohlc candles equal batch ohlc on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(59)
    val bucketMs = 3600000L
    // 2 urls x 3 hourly candles; inject dup-ts rows so the (ts, value)
    // tie order is actually exercised on open/close
    val all = (for (u <- 0 until 2; b <- 0 until 3; _ <- 0 until 40) yield
      SeriesPoint(s"u$u", 3600000L + b * bucketMs + rng.nextInt(bucketMs.toInt),
        math.floor(rng.nextDouble() * 8000) / 100.0)) ++
      Seq(SeriesPoint("u0", 3600000L, 3.0), SeriesPoint("u0", 3600000L, 9.0))
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    def vals(r: org.apache.spark.sql.Row) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getLong(6), math.round(r.getDouble(7) * 1e6))
    val batch = graft.ops.AnalyticsOps.ohlc(
        all.toDF(), col("url"),
        (col("ts") - pmod(col("ts"), lit(bucketMs))).as("bucket_start"),
        col("ts"), col("value"), col("value"))
      .collect().map(r => key(r) -> vals(r)).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.ohlcStream(mem.toDS(), bucketMs, "4 hours")
      .writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(60)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(SeriesPoint("sentinel", far, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sentinel", far + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ohlc_stream")
      .filter(col("url") =!= "sentinel")
      .collect().map(r => key(r) -> vals(r)).toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming counter increase equals batch exactly under late arrivals") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(79)
    val bucketMs = 3600000L
    // counters that mostly grow with occasional restarts-to-near-zero, so
    // both the monotone branch and the reset branch fire; plus a
    // single-row bucket (NULL increase) and a dup-ts pair (tie order)
    var level = Map("a" -> 0.0, "b" -> 0.0)
    val all = (for (u <- Seq("a", "b"); b <- 0 until 3; i <- 0 until 17) yield {
      val v = if (rng.nextInt(10) == 0) rng.nextInt(300) / 100.0
        else level(u) + rng.nextInt(2000) / 100.0
      level += u -> v
      TiedPoint(u, 3600000L + b * bucketMs + rng.nextInt(bucketMs.toInt),
        (b * 100 + i).toLong, v)
    }) ++
      Seq(TiedPoint("lone", 3600000L + 42L, 0L, 5.0),
        TiedPoint("dup", 3600000L, 0L, 10.0), TiedPoint("dup", 3600000L, 1L, 3.0),
        TiedPoint("dup", 3600000L + 9L, 2L, 4.0))
    val batch = graft.ops.AnalyticsOps.counterIncrease(
        all.toDF(), col("url"), (col("ts") - pmod(col("ts"), lit(bucketMs))),
        col("ts"), col("tie"), col("value"))
      .select(col("key"), col("bucket"), col("increase").cast("double"),
        col("resets"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3), r.getLong(4))))
      .toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.counterIncreaseStream(mem.toDS(), bucketMs, "4 hours")
      .writeStream.format("memory").queryName("inc_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(25)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(TiedPoint("sentinel", far, 0L, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(TiedPoint("sentinel", far + 1, 1L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("inc_stream").as[IncOut]
      .filter(col("url") =!= "sentinel")
      .collect()
      .map(e => (e.url, e.bucket) -> ((e.increase, e.resets, e.n)))
      .toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
    assert(streamed(("lone", 3600000L)) == ((None, 0L, 1L)),
      "single-row bucket: NULL increase")
    assert(streamed.values.map(_._2).sum > 0, "fixture must contain resets")
    assert(streamed(("dup", 3600000L)) == ((Some(1.0 + 3.0), 1L, 3L)),
      "dup-ts rows order by tie: 10 -> 3 (reset, +3) -> 4 (+1)")
  }

  test("streaming overlap sketches equal the batch estimates exactly") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(83)
    val dayMs = 86400000L
    // two keys x 5 days, ~60% day-over-day user retention, a gap day on
    // key b (day 3 silent -> day 4 must NOT emit), dup (user, day) rows
    val all = (for {
      k <- Seq("a", "b"); d <- 1 to 5
      if !(k == "b" && d == 3)
      u <- 0 until 150
      if (u + d * 37) % 5 < 3 || u % 7 == 0
    } yield ActivityPoint(s"u$u", k, d * dayMs + rng.nextInt(dayMs.toInt))) ++
      Seq(ActivityPoint("u0", "a", dayMs + 42L)) // dup pair
    val batchIn = all.toDF()
      .select(col("etype"), timestamp_millis(col("ts")).as("t"), col("user"))
    val batch = graft.ops.AnalyticsOps.distinctOverlapSketch(
        batchIn, col("etype"), col("t"), col("user"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    assert(batch.nonEmpty && !batch.contains(("b", 4 * dayMs)),
      "fixture: gap day must suppress the day-4 pair on key b")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ActivityPoint]
    // lateness exceeds the full fixture span: fully shuffled arrival must
    // never watermark-drop a row
    val q = StreamStage.overlapSketchStream(mem.toDS(), dayMs, 12, "10 days")
      .writeStream.format("memory").queryName("ovl_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(200)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * dayMs
    mem.addData(Seq(ActivityPoint("s", "sentinel", far)))
    q.processAllAvailable()
    mem.addData(Seq(ActivityPoint("s", "sentinel", far + 1)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ovl_stream").as[OvlOut]
      .filter(col("key") =!= "sentinel")
      .collect()
      .map(e => (e.key, e.period) ->
        ((e.curr_est, e.prev_est, e.union_est, e.retained_est, e.jaccard_est)))
      .toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming per-bucket trend equals batch linearTrend bit-for-bit") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(71)
    val h = 3600000L
    // 2 urls x 3 hourly buckets of drifting 2-decimal values, plus one
    // single-point bucket (degenerate: NULL slope) and one constant-value
    // bucket (r2 NULL)
    val all = (for (u <- 0 until 2; b <- 0 until 3; i <- 0 until 40) yield
      SeriesPoint(s"u$u", h + b * h + rng.nextInt(h.toInt),
        math.floor(rng.nextDouble() * 5000 + i * 25 * (u + 1)) / 100.0)) ++
      Seq(SeriesPoint("solo", h + 17000L, 42.42)) ++
      (0 until 5).map(i => SeriesPoint("flat", h + i * 60000L, 7.0))
    def bits(v: Any): Long = v match {
      case null => Long.MinValue
      case d: Double => java.lang.Double.doubleToLongBits(d)
    }
    val xExpr = floor(pmod(col("ts"), lit(h)) / lit(1000.0))
    val batch = graft.ops.AnalyticsOps.linearTrend(
        all.toDF().withColumn("k",
          concat_ws("|", col("url"), col("ts") - pmod(col("ts"), lit(h)))),
        col("k"), xExpr, col("value"))
      .collect().map { r =>
        val Array(u, b) = r.getString(0).split('|')
        (u, b.toLong) -> ((r.getLong(1), bits(r.get(2)), bits(r.get(3)),
          bits(r.get(4))))
      }.toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.trendStream(mem.toDS(), h, "4 hours")
      .writeStream.format("memory").queryName("trend_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(50)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    mem.addData(Seq(SeriesPoint("sentinel", far, 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(SeriesPoint("sentinel", far + 1, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trend_stream")
      .filter(col("url") =!= "sentinel")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), bits(r.get(3)), bits(r.get(4)), bits(r.get(5))))).toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
    assert(streamed(("solo", h))._2 == Long.MinValue, "n=1 bucket: NULL slope")
    assert(streamed(("flat", h))._4 == Long.MinValue, "flat bucket: NULL r2")
  }

  test("streaming entropy (chained window aggs) equals batch bit-for-bit") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(83)
    val dayMs = 86400000L
    val types = Array("view", "click", "buy", "share")
    // 2 users x 2 days of skewed type mixes + a single-type day
    val all = (for (u <- 0 until 2; d <- 0 until 2; i <- 0 until 30) yield
      ActivityPoint(s"u$u", types(rng.nextInt(1 + (i % types.length))),
        dayMs + d * dayMs + rng.nextInt(dayMs.toInt))) ++
      (0 until 5).map(i => ActivityPoint("mono", "view", dayMs + i * 1000L))
    def bits(v: Any): Long = v match {
      case null => Long.MinValue
      case d: Double => java.lang.Double.doubleToLongBits(d)
    }
    val batch = graft.ops.AnalyticsOps.typeEntropy(
        all.toDF(), col("user"), col("ts") - pmod(col("ts"), lit(dayMs)),
        col("etype"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), bits(r.get(4)), bits(r.get(5)),
          bits(r.get(6))))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ActivityPoint]
    val q = StreamStage.entropyStream(mem.toDS(), dayMs, "2 days")
      .writeStream.format("memory").queryName("entropy_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(40)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * dayMs
    // two sentinel advances: the watermark has to propagate through BOTH
    // stateful aggregations before the finalize rows append
    for (i <- 0 until 3) {
      mem.addData(Seq(ActivityPoint("sentinel", "view", far + i)))
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("entropy_stream")
      .filter(col("key") =!= "sentinel")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), bits(r.get(4)), bits(r.get(5)),
          bits(r.get(6))))).toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
    assert(streamed(("mono", dayMs))._4 == Long.MinValue,
      "single-type bucket: NULL normalized entropy")
  }

  test("streaming trailing actives equals batch nonzero days under late arrivals") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(91)
    val dayMs = 86400000L
    // 6 users over a 20-day span with a 9-day dead zone (days 6-14) —
    // wider than the 7-day window, so the batch spine carries zero days
    // the stream must simply not emit
    val all = (for (_ <- 1 to 80) yield {
      val u = rng.nextInt(6)
      val d0 = rng.nextInt(11)
      val d = if (d0 < 6) d0 else d0 + 9
      // days start at 1: ts=0 sits ON Spark's initial watermark and the
      // late-row filter is boundary-inclusive (see the verify skill notes)
      ActivityPoint(s"u$u", "view", (d + 1) * dayMs + rng.nextInt(dayMs.toInt))
    }).distinct
    val batch = graft.ops.AnalyticsOps.trailingActives(
        all.toDF(), col("user"), timestamp_millis(col("ts")), 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.valuesIterator.contains(0L), "dead zone must yield zeros")

    implicit val sqlCtx = spark.sqlContext
    // stage 1: the membership stream, under a full shuffle (lateness
    // covers the whole span, so nothing is watermark-dropped)
    val mem = MemoryStream[ActivityPoint]
    val q1 = StreamStage.trailingCoverStream(mem.toDS(), 7, "40 days")
      .writeStream.format("memory").queryName("trailing_cover_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(25)) {
      mem.addData(chunk.toSeq)
      q1.processAllAvailable()
    }
    // two sentinel advances: drain the reals past the 40-day lateness,
    // then drain sentinel #1 itself
    val far = all.map(_.ts).max + 365L * dayMs
    for (i <- 0 until 2) {
      mem.addData(Seq(ActivityPoint("sentinel", "view", far + i * 41L * dayMs)))
      q1.processAllAvailable()
    }
    q1.stop()
    val cover = spark.table("trailing_cover_stream")
      .as[CoverOut].collect().toSeq
    assert(cover.nonEmpty, "stage 1 must emit membership rows")

    // stage 2: its own query over the persisted membership stream (see
    // trailingCoverStream's scaladoc for why the stages must not fuse)
    val mem2 = MemoryStream[CoverOut]
    val q2 = StreamStage.trailingActivesFromCover(mem2.toDS(), 7)
      .writeStream.format("memory").queryName("trailing_actives_stream")
      .outputMode("append").start()
    mem2.addData(cover)
    q2.processAllAvailable()
    // one membership sentinel closes every real window
    mem2.addData(Seq(CoverOut("sentinel", (far / dayMs) * dayMs)))
    q2.processAllAvailable()
    q2.stop()

    // the batch spine ends at the last ACTIVE day; the stream also emits
    // the up-to-6 trailing days past it (still-nonzero windows with no
    // spine row) — compare strictly within the spine
    val cutoff = (all.map(_.ts).max / dayMs) * dayMs + dayMs
    val streamed = spark.table("trailing_actives_stream")
      .filter(col("day_ms") < cutoff)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = batch.filter { case (d, c) => c > 0 && d < cutoff }
    assert(streamed == expected,
      s"stream-only: ${(streamed.toSet -- expected.toSet).take(4)}; " +
        s"batch-only: ${(expected.toSet -- streamed.toSet).take(4)}")
    // the sentinel user's own membership stays above the cutoff, so the
    // real days' counts cannot be inflated by it
    assert(cover.count(_.user == "sentinel") > 0 &&
      cover.filter(_.user == "sentinel").forall(_.dayMs >= cutoff))
  }

  test("streaming rolling correlation equals batch q143 bit-for-bit on closed buckets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(47)
    val hourMs = 3600000L
    // 60 hours of paired volumes with gaps (hour % 7 == 3 empty) and an
    // off-pair type that must only advance the watermark
    val all = (for (h <- 1 to 60 if h % 7 != 3; i <- 0 until 3) yield {
      val ts = h * hourMs + i * 60000L + rng.nextInt(1000)
      Seq(
        SeriesPoint("view", ts, (rng.nextInt(2000) + 100) / 100.0),
        SeriesPoint("purchase", ts + 7, (rng.nextInt(900) + 50) / 100.0),
        SeriesPoint("error", ts + 11, 99.99))
    }).flatten
    val batch = graft.ops.AnalyticsOps.rollingCorrelation(
        all.map(p => (p.url, new java.sql.Timestamp(p.ts), p.value))
          .toDF("event_type", "ts", "value"),
        col("event_type"), col("ts"), col("value"), "view", "purchase",
        windowBuckets = 24)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])
          .map(java.lang.Double.doubleToLongBits)))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.rollingCorrStream(mem.toDS(), "view", "purchase",
        windowBuckets = 24, lateness = "2 hours")
      .writeStream.format("memory").queryName("rollcorr_stream")
      .outputMode("append").start()
    // shuffle within less than (lateness - span) so nothing is dropped
    for (chunk <- all.grouped(40)) {
      mem.addData(rng.shuffle(chunk.toSeq))
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * 86400000L
    for (i <- 0 until 2) {
      mem.addData(Seq(SeriesPoint("sentinel", far + i, 0.0)))
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("rollcorr_stream")
      .as[RollCorrOut].collect()
      .map(r => r.bucket_ms ->
        ((r.n_buckets, r.corr.map(java.lang.Double.doubleToLongBits))))
      .toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(4)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(4)}")
  }

  test("streaming trimmed mean equals batch trimmedMean bit-for-bit") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(97)
    val dayMs = 86400000L
    val all = (for (u <- 0 until 2; b <- 0 until 2; i <- 0 until 25) yield
      SeriesPoint(s"u$u", dayMs + b * dayMs + rng.nextInt(dayMs.toInt),
        math.floor(rng.nextDouble() * 10000) / 100.0)) ++
      Seq(SeriesPoint("solo", dayMs + 5000L, 3.21))
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    // aggregate outputs are tie-order invariant, so a constant tie is fine
    val batch = graft.ops.AnalyticsOps.trimmedMean(all.toDF(),
        col("url"), col("ts") - pmod(col("ts"), lit(dayMs)), col("value"),
        lit(0L))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), bits(r.getDouble(4)),
          bits(r.getDouble(5))))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesPoint]
    val q = StreamStage.trimmedStream(mem.toDS(), dayMs, 0.1, "4 days")
      .writeStream.format("memory").queryName("trim_stream")
      .outputMode("append").start()
    for (chunk <- rng.shuffle(all).grouped(30)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = all.map(_.ts).max + 365L * dayMs
    for (i <- 0 until 2) {
      mem.addData(Seq(SeriesPoint("sentinel", far + i, 0.0)))
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("trim_stream")
      .filter(col("url") =!= "sentinel")
      .as[TrimOut].collect()
      .map(o => (o.url, o.bucket) ->
        ((o.n, o.trimmed_each, bits(o.trimmed_mean), bits(o.winsor_mean))))
      .toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
    assert(streamed(("solo", dayMs)) == ((1L, 0L, bits(3.21), bits(3.21))),
      "n = 1: untrimmed")
  }

  test("streaming rate-limit audit equals the batch tropical scan exactly") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(41)
    // rate 1 token/s, burst 2: gaps of 0.1-2 s mix violations and refills;
    // url "a" has one dup-ts pair (tie-ordered drain)
    val all = for (u <- Seq("a", "b")) yield {
      var t = 3600000L
      (0 until 50).map { i =>
        t += (if (u == "a" && i == 30) 0L else 100L + rng.nextInt(1900))
        TiedPoint(u, t, i.toLong, 0.0)
      }
    }
    val flat = all.flatten
    val batch = graft.ops.AnalyticsOps.rateLimitAudit(
        flat.toDF().withColumn("ts", timestamp_millis(col("ts"))),
        col("url"), col("ts"), col("tie"),
        ratePerSec = 1.0, burst = 2.0, bucketMs = 5000L)
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        ((java.lang.Double.doubleToLongBits(r.getDouble(3)),
          r.getBoolean(4)))).toMap
    assert(batch.values.exists(_._2) && batch.values.exists(!_._2),
      "fixture exercises both violation branches")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TiedPoint]
    val q = StreamStage.rateLimitStream(mem.toDS(), 1.0, 2.0, "10 minutes")
      .writeStream.format("memory").queryName("rl_stream")
      .outputMode("append").start()
    val perturbed = flat.map(p => (p, p.ts + (rng.nextInt(5) - 2) * 400L))
      .sortBy(_._2).map(_._1)
    for (chunk <- perturbed.grouped(12)) {
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val far = flat.map(_.ts).max + 365L * 86400000L
    for (i <- 0 until 2) {
      mem.addData(Seq(TiedPoint("sentinel", far + i, i.toLong, 0.0)))
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("rl_stream").as[RlOut]
      .filter(col("url") =!= "sentinel")
      .collect().map(e => (e.url, e.tie) ->
        ((java.lang.Double.doubleToLongBits(e.burst_used), e.violation)))
      .toMap
    assert(streamed == batch,
      s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
        s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("stateful twins drop closed state and keep only what must survive") {
    // one twin per state shape: per-(key, bucket) close-on-watermark (mad),
    // per-key ascending period close with a carried value (psi, slo burn,
    // calendar baseline), per-key buffered in-order replay (ewma) and gap
    // sessions (sessionize). After the watermark passes every real row, the
    // state store must hold exactly the groups whose state outlives the
    // stream: the sentinel's own group, plus every real key for the twins
    // whose carried value is unbounded history (calendar's hour-of-day
    // sums, ewma's smoother).
    val rng = new scala.util.Random(97)
    val hourMs = 3600000L
    val urls = Seq("a", "b", "c")
    val all = for (u <- urls; h <- 0 until 30; i <- 0 until 1 + rng.nextInt(3))
      yield TiedPoint(u, hourMs + h * hourMs + i * 600000L + rng.nextInt(1000),
        (h * 10 + i).toLong, rng.nextInt(3).toDouble)
    val far = (all.map(_.ts).max / hourMs + 24L * 365L) * hourMs
    def stateRows(name: String)(
        twin: org.apache.spark.sql.Dataset[TiedPoint] =>
          org.apache.spark.sql.Dataset[_]): Long = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[TiedPoint]
      val q = twin(mem.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      for (chunk <- all.sortBy(_.ts).grouped(20)) {
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      for (i <- 0 until 2) {
        mem.addData(Seq(TiedPoint("sentinel", far + i, i.toLong, 0.0)))
        q.processAllAvailable()
      }
      val rows = q.lastProgress.stateOperators(0).numRowsTotal
      q.stop()
      rows
    }
    val lateness = "2 hours"
    assert(stateRows("expiry_mad")(
      StreamStage.madStream(_, hourMs, 3.0, lateness)) == 1L)
    assert(stateRows("expiry_psi")(
      StreamStage.psiDriftStream(_, 6 * hourMs, 1.0, lateness = lateness)) == 1L)
    assert(stateRows("expiry_slo")(StreamStage.sloBurnStream(_, 0.25,
      hourMs, 6 * hourMs, 1.0, lateness)) == 1L)
    assert(stateRows("expiry_cal")(
      StreamStage.calendarBaselineStream(_, lateness)) == urls.size + 1L)
    assert(stateRows("expiry_ewma")(
      StreamStage.ewmaStream(_, 0.3, lateness)) == urls.size + 1L)
    assert(stateRows("expiry_session")(ds => StreamStage.sessionizeStream(
      ds.map(p => SeriesPoint(p.url, p.ts, p.value)), hourMs, lateness)) == 1L)
  }
}
