package graft.ops

import graft.pipeline.{Rollup, SparkTestBase}
import org.apache.spark.sql.functions._

/** Unit coverage for the declarative pipeline operators added alongside the
  * rollup tiers: linear-interpolation gap fill, retention expiry, and
  * sessionization (their cross-engine checks are the q36/q37/q38 DuckDB
  * oracles; these specs pin the semantics on hand-built edges). */
class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def tsCol(h: Int) = to_timestamp(lit(f"2020-01-01 $h%02d:00:00"))

  test("gapFillLinear interpolates interior gaps and marks them") {
    // key k: hours 0, 3 observed (values 1.0, 7.0) -> hours 1,2 are 3.0, 5.0
    val agg = Seq((0, 1.0), (3, 7.0))
      .map { case (h, v) => ("k", f"2020-01-01 $h%02d:00:00", v) }
      .toDF("key", "s", "mean")
      .select(col("key"), to_timestamp(col("s")).as("bucket"), col("mean"))
    val out = Rollup.gapFillLinear(agg, 3600L)
      .orderBy("bucket")
      .collect()
      .map(r => (r.getDouble(r.fieldIndex("mean")), r.getBoolean(r.fieldIndex("gap_filled"))))
    assert(out.toSeq == Seq((1.0, false), (3.0, true), (5.0, true), (7.0, false)))
  }

  test("gapFillLinear leaves single-observation keys constant") {
    val agg = Seq(("k", "2020-01-01 05:00:00", 42.0)).toDF("key", "s", "mean")
      .select(col("key"), to_timestamp(col("s")).as("bucket"), col("mean"))
    val out = Rollup.gapFillLinear(agg, 3600L).collect()
    assert(out.length == 1 && out(0).getDouble(out(0).fieldIndex("mean")) == 42.0)
  }

  test("applyRetention keeps each tier within its horizon of the max bucket") {
    // anchor = day 10; 1m horizon 2 days keeps days 8..10; unlisted tier kept forever
    val rows = (1 to 10).flatMap(d =>
      Seq(("1m", f"2020-01-$d%02d 00:00:00"), ("1d", f"2020-01-$d%02d 00:00:00")))
    val tiers = rows.toDF("tier", "s")
      .select(col("tier"), to_timestamp(col("s")).as("bucket_start"))
    val anchor = tiers.agg(max(unix_millis(col("bucket_start"))).as("anchor_ms"))
    val kept = RetentionOps.applyRetention(tiers, anchor,
        Map("1m" -> 2L * 86400000L), "tier", "bucket_start")
      .groupBy("tier").count().as[(String, Long)].collect().toMap
    assert(kept("1m") == 3L, "1m keeps days 8,9,10")
    assert(kept("1d") == 10L, "unlisted tier keeps everything")
  }

  test("gapFillNearest copies the closest observation, ties to previous") {
    val agg = Seq(("u", 0L, 10.0), ("u", 4L, 50.0))
      .map { case (k, h, v) => (k, new java.sql.Timestamp(h * 3600000L), v) }
      .toDF("key", "bucket", "mean")
    val out = graft.pipeline.Rollup.gapFillNearest(agg, 3600L)
      .collect().map(r => r.getTimestamp(1).getTime / 3600000L ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(0L) == ((10.0, false)))
    assert(out(1L) == ((10.0, true)))
    assert(out(2L) == ((10.0, true)), "exact-middle tie takes the PREVIOUS")
    assert(out(3L) == ((50.0, true)))
    assert(out(4L) == ((50.0, false)))
    assert(out.size == 5)
  }

  test("tieredRead serves each age band at its tier, no row double-served") {
    val day = 86400000L
    // anchor at day 30 noon; cuts land at day-aligned 23 and 16
    val rows = Seq(
      ("u", 30L * day + 1000L, 1.0),         // fresh -> 1m
      ("u", 24L * day + 3600_500L, 2.0),     // age ~6d -> 1m
      ("u", 22L * day + 7200_500L, 3.0),     // between cuts -> 1h
      ("u", 10L * day + 999L, 4.0),          // old -> 1d
      ("u", 10L * day + 1999L, 5.0)          // same 1d bucket
    ).map { case (u, ms, v) => (u, new java.sql.Timestamp(ms), v) }
      .toDF("user_id", "ts", "value")
    val anchor = 30L * day + 1000L
    val out = RetentionOps.tieredRead(rows, col("user_id"), col("ts"),
        col("value"), anchor, 7L * day, 14L * day)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getDecimal(4).doubleValue()))).toMap
    assert(out((
      "1m", 30L * day)) == ((1L, 1.0)))
    assert(out(("1m", 24L * day + 3600_000L)) == ((1L, 2.0)))
    assert(out(("1h", 22L * day + 7200_000L)) == ((1L, 3.0)))
    assert(out(("1d", 10L * day)) == ((2L, 9.0)), "1d bucket merges both old rows")
    assert(out.values.map(_._1).sum == 5L, "every row served exactly once")
  }

  test("sessionize splits on gaps > gapMs and numbers sessions per key") {
    val ev = Seq(
      ("u1", 0L, 1L), ("u1", 1000L, 2L), ("u1", 5000L, 3L), // gap 4s -> new session
      ("u1", 5500L, 4L),
      ("u2", 0L, 5L)
    ).map { case (u, ms, id) => (u, new java.sql.Timestamp(ms), id) }
      .toDF("user_id", "ts", "event_id")
    val out = SessionOps.sessionize(ev, col("user_id"), col("ts"), col("event_id"), 3000L)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L, "within-gap events share the session")
    assert(out(3L) == 2L && out(4L) == 2L, "gap > 3s starts session 2")
    assert(out(5L) == 1L, "sessions are numbered per key")
  }

  test("repetitionStats computes token/2-gram repetition fractions and keep flag") {
    val docs = Seq(
      (1L, "x x x x x"),                          // degenerate repeat
      (2L, (1 to 20).map(i => s"t$i").mkString(" ")), // all distinct
      (3L, "a b a b a b a b")                     // alternating 2-gram loop
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    assert(out(1L) == ((5L, 0.2, 1.0, 1.0, false)), s"got ${out(1L)}")
    assert(out(2L) == ((20L, 1.0, 0.05, 0.0, true)), s"got ${out(2L)}")
    // 7 2-gram occurrences: "a b"x4 + "b a"x3, all repeating
    assert(out(3L) == ((8L, 0.25, 0.5, 1.0, false)), s"got ${out(3L)}")
  }

  test("piiScrub counts and redacts emails, digit runs, and blocklist terms") {
    val docs = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or x@y.io thanks"),
      (2L, "call 0123456 or 42 ext 999"),   // 42 is short → not a run
      (3L, "the customer ran spark on customerdata") // customerdata: no \b match
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(docs, Seq("customer", "spark")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == ((2, 0, 0)), s"got ${out(1L)}")
    assert(out(2L) == ((0, 2, 0)), s"got ${out(2L)}")
    assert(out(3L) == ((0, 0, 2)), s"got ${out(3L)}")
    // redaction really removes the matched spans from the cleaned length
    val clean = TextOps.piiScrub(
        Seq((9L, "a@b.co 12345 spark")).toDF("doc_id", "text"),
        Seq("spark"))
      .select("n_chars_clean").as[Int].head()
    assert(clean == "<EMAIL> <NUM> <TERM>".length, s"got $clean")
  }

  test("piiScrub rejects non-word blocklist terms (RE2 portability guard)") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.piiScrub(docs, Seq("a.b"))
    }
  }

  test("incrementalRefresh upserts equal a full recompute on exactly the touched buckets") {
    import graft.pipeline.SeriesPoint
    val rng = new scala.util.Random(41)
    val bucketMs = 3600000L
    val pts = for (u <- 0 until 3; _ <- 0 until 200) yield SeriesPoint(
      s"u$u", rng.nextInt(20).toLong * 600000L + rng.nextInt(600000),
      rng.nextDouble() * 100.0)
    val (newPts, oldPts) = pts.zipWithIndex.partition(_._2 % 4 == 0)
    def rollup(ps: Seq[SeriesPoint]) = ps.toDS().toDF()
      .groupBy(col("url"), (col("ts") - pmod(col("ts"), lit(bucketMs))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum"),
        min("value").as("min"), max("value").as("max"))
    val ups = Rollup.incrementalRefresh(
        rollup(oldPts.map(_._1)), newPts.map(_._1).toDS(), bucketMs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    val touched = newPts.map(_._1)
      .map(p => (p.url, p.ts - p.ts % bucketMs)).toSet
    assert(ups.keySet == touched, "upsert set covers exactly the touched buckets")
    val full = rollup(pts).withColumn("mean", col("sum") / col("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    for ((k, (cnt, s, mn, mx, mean)) <- ups) {
      val (fc, fs, fmn, fmx, fmean) = full(k)
      assert(cnt == fc && mn == fmn && mx == fmx, s"$k count/min/max exact")
      assert(math.abs(s - fs) < 1e-9 && math.abs(mean - fmean) < 1e-9,
        s"$k sums agree modulo partial-agg reassociation")
    }
  }

  test("mergeUpserts(prev, incrementalRefresh(...)) equals the full recompute") {
    import graft.pipeline.SeriesPoint
    val rng = new scala.util.Random(43)
    val bucketMs = 3600000L
    val pts = for (u <- 0 until 3; _ <- 0 until 150) yield SeriesPoint(
      s"u$u", rng.nextInt(24).toLong * 600000L + rng.nextInt(600000),
      rng.nextDouble() * 50.0)
    val (newPts, oldPts) = pts.zipWithIndex.partition(_._2 % 5 == 0)
    def rollup(ps: Seq[SeriesPoint]) = ps.toDS().toDF()
      .groupBy(col("url"), (col("ts") - pmod(col("ts"), lit(bucketMs))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum"),
        min("value").as("min"), max("value").as("max"))
      .withColumn("mean", col("sum") / col("cnt"))
    val prev = rollup(oldPts.map(_._1))
    val ups = Rollup.incrementalRefresh(prev, newPts.map(_._1).toDS(), bucketMs)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    val merged = toMap(Rollup.mergeUpserts(prev, ups))
    val full = toMap(rollup(pts))
    assert(merged.keySet == full.keySet, "post-merge covers every bucket exactly once")
    for ((k, (cnt, s, mn, mx, mean)) <- merged) {
      val (fc, fs, fmn, fmx, fmean) = full(k)
      assert(cnt == fc && mn == fmn && mx == fmx, s"$k count/min/max exact")
      assert(math.abs(s - fs) < 1e-9 && math.abs(mean - fmean) < 1e-9, s"$k sums agree")
    }
  }

  test("incrementalRefresh seeds brand-new buckets and keys from the delta alone") {
    import graft.pipeline.SeriesPoint
    val bucketMs = 3600000L
    val prev = Seq(("uOld", 0L, 5L, 50.0, 1.0, 30.0))
      .toDF("url", "bucket_start", "cnt", "sum", "min", "max")
    val fresh = Seq(
      SeriesPoint("uNew", 100L, 7.0), SeriesPoint("uNew", 200L, 3.0),
      SeriesPoint("uOld", 500L, 10.0)).toDS()
    val out = Rollup.incrementalRefresh(prev, fresh, bucketMs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out("uNew") == ((2L, 10.0, 3.0, 7.0)), "unseen key = delta aggregates")
    assert(out("uOld") == ((6L, 60.0, 1.0, 30.0)), "stored partials merge in")
  }

  test("realtimeRead never double-counts, even against a poisoned stored table") {
    import org.apache.spark.sql.functions._
    val b = 3600000L
    val wm = 10 * b
    // raw: one bucket fully below wm, one straddler-free bucket above
    val raw = Seq(
      ("u1", 5 * b + 1L, 2.0), ("u1", 5 * b + 2L, 3.0),
      ("u1", 10 * b + 1L, 7.0), ("u1", 11 * b + 1L, 1.0)
    ).map { case (u, ms, v) => (u, new java.sql.Timestamp(ms), v) }
      .toDF("user", "ts", "v")
    // stored: the legit bucket 5, PLUS a partial row for bucket 10 that an
    // over-eager refresh materialized — must be dropped, not double-counted
    val stored = Seq(
      ("u1", 5 * b, 2L, BigDecimal("5.00")),
      ("u1", 10 * b, 1L, BigDecimal("7.00"))
    ).toDF("key", "bucket_start", "cnt", "vsum")
    val out = Rollup.realtimeRead(stored, raw, col("user"), col("ts"),
        col("v"), b, wm)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getDecimal(3).doubleValue))).toMap
    assert(out == Map(
      5 * b -> ((2L, 5.0)),   // from stored
      10 * b -> ((1L, 7.0)),  // from RAW (stored partial dropped)
      11 * b -> ((1L, 1.0))), s"got $out")
    // and it equals the full recompute
    val full = raw.groupBy(col("user"),
        (floor(unix_millis(col("ts").cast("timestamp")) / lit(b)) * lit(b))
          .cast("long").as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("vsum"))
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.view.mapValues(v => (v._1, v._2)).toMap == full)
  }
}
