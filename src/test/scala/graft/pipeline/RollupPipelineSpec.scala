package graft.pipeline

import org.apache.spark.sql.functions._

class RollupPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val pages = SyntheticCrawl.pagesDF(spark, nUrls = 40, basePoints = 300).cache()

  test("synthetic crawl is deterministic and partitioning-independent") {
    val h1 = Checkpointing.contentHash(SyntheticCrawl.pagesDF(spark, 25, 80))
    val h2 = Checkpointing.contentHash(SyntheticCrawl.pagesDF(spark, 25, 80).repartition(13))
    assert(h1 == h2)
    // byte-identical text per url between churn points: distinct texts per
    // url == planted segments (cps + 1)
    val perUrl = SyntheticCrawl.pagesDF(spark, 25, 80)
      .groupBy("url").agg(countDistinct("text").as("n")).as[(String, Long)].collect().toMap
    assert(perUrl.values.forall(n => n >= 2 && n <= 5))
  }

  test("SparkEntry.entry: the flagship slice yields rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("kernel rollup: bucket span, gap-fill locf, exact non-gap aggregates") {
    // 1m cadence with a 5-bucket hole; values 1..n
    val pts = Seq(
      (0L, 10.0), (60000L, 20.0), (120000L, 30.0),
      (480000L, 40.0), (540000L, 44.0), (540500L, 46.0))
    val rows = RollupReference.kernelRollup("u", pts.iterator, 60000L, "1m", segment = false)
    assert(rows.length == 10) // buckets 0..9 inclusive
    assert(rows.count(_.gap_filled) == 5)
    val b0 = rows.find(_.bucket_start == 0L).get
    assert(b0.cnt == 1 && b0.sum == 10.0 && b0.mean == 10.0)
    val gap = rows.find(_.bucket_start == 180000L).get
    assert(gap.gap_filled && gap.cnt == 0 && gap.mean == 30.0 && gap.min == 30.0)
    val b9 = rows.find(_.bucket_start == 540000L).get
    assert(b9.cnt == 2 && b9.sum == 90.0 && b9.min == 44.0 && b9.max == 46.0 && b9.mean == 45.0)
    // idempotence: re-bucketing the same points yields identical rows
    val rows2 = RollupReference.kernelRollup("u", pts.iterator, 60000L, "1m", segment = false)
    assert(rows.toSeq == rows2.toSeq)
  }

  test("tier cascade is raw-point-exact vs direct aggregation") {
    val points = CrawlSignals.pageSize(pages)
    val r1m = RollupReference.adaptiveRollup(points, 60000L, "1m", segment = false).cache()
    val r1h = Rollup.cascade(r1m, "1h")
    // direct 1h aggregation of the raw points, ignoring gap-fill
    val direct = points.toDF()
      .groupBy($"url", ($"ts" - pmod($"ts", lit(3600000L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum"),
        min("value").as("min"), max("value").as("max"))
    val joined = r1h.toDF().alias("c").join(direct.alias("d"), Seq("url", "bucket_start"))
    assert(joined.count() == direct.count() && joined.count() == r1h.count())
    val bad = joined.filter(
      col("c.cnt") =!= col("d.cnt") or abs(col("c.sum") - col("d.sum")) > 1e-9 or
      col("c.min") =!= col("d.min") or col("c.max") =!= col("d.max")).count()
    assert(bad == 0)
    r1m.unpersist()
  }

  test("adaptive epochs: contiguous, non-decreasing, and present for regime-shift series") {
    val points = CrawlSignals.pageSize(pages)
    val r1m = RollupReference.adaptiveRollup(points, 60000L, "1m", segment = true)
    val byUrl = r1m.collect().groupBy(_.url)
    assert(byUrl.nonEmpty)
    var urlsWithEpochs = 0
    for ((_, rows) <- byUrl) {
      val sorted = rows.sortBy(_.bucket_start)
      val epochs = sorted.map(_.epoch)
      assert(epochs.head == 0)
      assert(epochs.zip(epochs.tail).forall { case (a, b) => b == a || b == a + 1 })
      if (epochs.last > 0) urlsWithEpochs += 1
    }
    // planted frequency/amplitude shifts: most urls should get >= 1 epoch boundary
    assert(urlsWithEpochs >= byUrl.size / 2, s"only $urlsWithEpochs of ${byUrl.size} urls segmented")
  }

  test("in-kernel tier fold matches the Catalyst cascade row-for-row") {
    val points = CrawlSignals.pageSize(pages)
    val r1m = RollupReference.adaptiveRollup(points, 60000L, "1m", segment = false).cache()
    val viaKernel = r1m.groupByKey(_.url)
      .flatMapGroups((_, it) => Rollup.kernelTiers(it.toArray, "1h").iterator)
    val viaCascade = Rollup.cascade(r1m, "1h")
    val j = viaKernel.toDF().alias("k")
      .join(viaCascade.toDF().alias("c"), Seq("url", "epoch", "bucket_start"), "full_outer")
    assert(j.filter(col("k.cnt").isNull || col("c.cnt").isNull).count() == 0)
    val bad = j.filter(col("k.cnt") =!= col("c.cnt") or
      abs(col("k.sum") - col("c.sum")) > 1e-9 or
      col("k.min") =!= col("c.min") or col("k.max") =!= col("c.max")).count()
    assert(bad == 0)
    r1m.unpersist()
  }

  test("scalable two-phase rollup equals the single-kernel path for single-chunk urls") {
    val points = CrawlSignals.pageSize(pages)
    val single = RollupReference.adaptiveRollupAllTiers(points, 60000L, segment = true)
    val scalable = Rollup.scalableRollupAllTiers(points, 60000L, segment = true)
    val failuresBefore = Rollup.segmentFailures.sum()
    val scalableHash = Checkpointing.contentHash(scalable.toDF())
    // a kernel exception degrades a chunk to one epoch; it must not go unseen
    assert(Rollup.segmentFailures.sum() == failuresBefore,
      "the segmented crawl-fixture rollup fell back to a single epoch")
    assert(Checkpointing.contentHash(single.toDF()) == scalableHash)
  }

  test("scalable rollup splits mega urls across chunks without seams") {
    // one synthetic mega url: 12000 one-minute points → 3 chunks at 4000
    val ptsSeq = (0 until 12000).map { i =>
      val seg = i / 4500 // regime shifts NOT aligned to chunk boundaries
      val period = 7.0 + 3.0 * seg
      SeriesPoint("mega", i.toLong * 60000L,
        1200.0 + 400.0 * math.sin(2 * math.Pi * i / period) + (i % 7))
    }
    val pts = ptsSeq.toDS()
    val rows = Rollup.scalableRollupAllTiers(pts, 60000L, segment = true)
      .filter(_.tier == "1m").collect().sortBy(_.bucket_start)
    assert(rows.length == 12000)
    assert(rows.forall(!_.gap_filled))
    // epochs contiguous and non-decreasing across chunk boundaries
    val epochs = rows.map(_.epoch)
    assert(epochs.zip(epochs.tail).forall { case (a, b) => b == a || b == a + 1 })
    assert(epochs.last >= 1, "regime shifts must be detected")
    // no epoch boundary exactly at a chunk seam (4000/8000) unless a cp is real
    val exact = rows.filter(_.cnt != 1).length
    assert(exact == 0)
    // determinism across partitioning
    val h1 = Checkpointing.contentHash(
      Rollup.scalableRollupAllTiers(pts.repartition(3), 60000L, segment = true).toDF())
    val h2 = Checkpointing.contentHash(
      Rollup.scalableRollupAllTiers(pts.repartition(17), 60000L, segment = true).toDF())
    assert(h1 == h2)
  }

  test("gorilla blobs reconstruct the 1m mean stream exactly") {
    val points = CrawlSignals.pageSize(pages)
    val r1m = RollupReference.adaptiveRollup(points, 60000L, "1m", segment = true).cache()
    val blobs = r1m.groupByKey(_.url)
      .flatMapGroups((u, it) => Rollup.kernelBlobs(u, it.toArray).iterator)
      .collect()
    val rowsByKey = r1m.collect().groupBy(r => (r.url, r.epoch))
    assert(blobs.nonEmpty)
    for (b <- blobs) {
      val (ts, vs) = graft.kernel.Gorilla.decode(b.gorilla)
      val expect = rowsByKey((b.url, b.epoch)).sortBy(_.bucket_start)
      assert(ts.toSeq == expect.map(_.bucket_start).toSeq)
      assert(vs.toSeq == expect.map(_.mean).toSeq)
    }
    r1m.unpersist()
  }

  test("DataFrame gap-fill locf matches kernel gap-fill") {
    val points = CrawlSignals.pageSize(pages)
    val agg1h = points.toDF()
      .groupBy($"url".as("key"),
        timestamp_millis($"ts" - pmod($"ts", lit(3600000L))).as("bucket"))
      .agg((sum("value") / count(lit(1))).as("mean"))
    val gf = Rollup.gapFillLocf(agg1h, 3600L)
    val kernel1h = RollupReference.adaptiveRollup(points, 3600000L, "1h", segment = false)
    val j = gf.select($"key".as("url"), unix_millis($"bucket").as("bucket_start"),
        $"mean".as("gf_mean"), $"gap_filled".as("gf_gap"))
      .join(kernel1h.toDF(), Seq("url", "bucket_start"))
    assert(j.count() == kernel1h.count())
    val bad = j.filter(abs($"gf_mean" - $"mean") > 1e-9 or ($"gf_gap" =!= $"gap_filled")).count()
    assert(bad == 0)
  }

  test("checkpointed run resumes and matches an uninterrupted run bit-for-bit") {
    val dir1 = java.nio.file.Files.createTempDirectory("ckpt-full").toString
    val dir2 = java.nio.file.Files.createTempDirectory("ckpt-resume").toString
    val points = CrawlSignals.pageSize(pages).cache()
    val nBuckets = 8
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.get(overwriteMode)

    // uninterrupted
    val n1 = Checkpointing.runResumable(points, dir1, nBuckets, segment = false)
    assert(n1 > 0)

    // interrupted: first pass only sees urls hashing into buckets 0-3
    val partial = points.toDF()
      .filter(pmod(xxhash64($"url"), lit(nBuckets)) < 4)
      .as[SeriesPoint]
    val nA = Checkpointing.runResumable(partial, dir2, nBuckets, segment = false)
    assert(nA > 0 && nA <= 4)
    // resume with the full input: only pending buckets recomputed
    val nB = Checkpointing.runResumable(points, dir2, nBuckets, segment = false)
    assert(nA + nB >= n1)
    val nC = Checkpointing.runResumable(points, dir2, nBuckets, segment = false)
    assert(nC == 0) // nothing pending

    def hashOf(dir: String): Long =
      Checkpointing.contentHash(spark.read.parquet(Checkpointing.rollupPath(dir)).drop("bucket"))
    assert(hashOf(dir1) == hashOf(dir2))
    // dynamic overwrite is a per-write option, not a session-wide setting
    assert(spark.conf.get(overwriteMode) == modeBefore)
    points.unpersist()
  }

  test("end-to-end pipeline writes all tiers and blobs") {
    val out = java.nio.file.Files.createTempDirectory("pipe").toString
    val res = Pipeline.run(pages, out, signal = "page_size", segment = true)
    assert(res.rows1m > 0 && res.rows1h > 0 && res.rows1d > 0 && res.blobs > 0)
    assert(res.rows1m >= res.rows1h && res.rows1h >= res.rows1d)
  }

  test("bucketed rollup sink joins url-to-url with no exchange") {
    import org.apache.spark.sql.functions.col
    val points = CrawlSignals.pageSize(pages)
    val rows = Rollup.scalableRollup(points, 60000L, "1m", segment = false)
    Checkpointing.writeBucketed(rows, "rollup_1m_bucketed", buckets = 8)
    Checkpointing.writeBucketed(
      Rollup.cascade(rows, "1h"), "rollup_1h_bucketed", buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.table("rollup_1m_bucketed")
      val b = spark.table("rollup_1h_bucketed")
      val joined = a.join(b.select(col("url"), col("bucket_start").as("hb"),
        col("mean").as("hmean")), Seq("url"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.split("\n").take(4).mkString("\n"))
      // bucketed-by-url on both sides: the join needs NO shuffle
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join must not shuffle:\n" + plan.split("\n").filter(_.contains("Exchange")).mkString("\n"))
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
