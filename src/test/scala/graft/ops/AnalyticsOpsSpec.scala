package graft.ops

import graft.pipeline.SparkTestBase
import org.apache.spark.sql.functions._

/** Unit coverage for the derivative/outlier/histogram analytics (their
  * cross-engine checks are the q41/q42/q43 DuckDB oracles; these specs pin
  * the semantics on hand-built edges). */
class AnalyticsOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("deltaRate computes per-key diffs and per-second rates, NULL at heads") {
    val ev = Seq(
      ("u1", 0L, 1L, 10.0), ("u1", 2000L, 2L, 16.0),  // +6 over 2s -> 3/s
      ("u1", 2000L, 3L, 20.0),                         // dup ts -> rate NULL
      ("u2", 0L, 4L, 5.0)
    ).map { case (u, ms, id, v) => (u, new java.sql.Timestamp(ms), id, v) }
      .toDF("user_id", "ts", "event_id", "value")
    val out = AnalyticsOps.deltaRate(ev,
        col("user_id"), col("ts"), col("event_id"), col("value"))
      .select("event_id", "delta", "rate")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out(1L) == ((None, None)), "series head has no delta/rate")
    assert(out(2L) == ((Some(6.0), Some(3.0))))
    assert(out(3L)._1 == Some(4.0))
    assert(out(3L)._2.isEmpty, "zero time gap yields NULL rate, not Inf")
    assert(out(4L) == ((None, None)), "keys are independent")
  }

  test("zscore flags outliers per group and NULLs zero-variance groups") {
    // group g1: nine 0.0 and one 10.0 -> mu=1, sd=3 -> z(10)=3 (outlier at 2.5)
    val g1 = (1 to 9).map(i => ("g1", i.toLong, 0.0)) :+ (("g1", 10L, 10.0))
    val g2 = Seq(("g2", 11L, 7.0), ("g2", 12L, 7.0)) // sd = 0
    val ev = (g1 ++ g2).toDF("k", "id", "value").withColumn("b", lit(1))
    val out = AnalyticsOps.zscore(ev, col("k"), col("b"), col("value"), 2.5)
      .select("id", "z", "is_outlier")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]), r.getBoolean(2)))).toMap
    assert(out(10L) == ((Some(3.0), true)))
    assert(out(1L)._2 == false)
    assert(math.abs(out(1L)._1.get - (-1.0 / 3.0)) < 1e-12)
    assert(out(11L) == ((None, false)), "zero-variance group: z NULL, not flagged")
  }

  test("sketch percentiles and distinct counts stay within their error bounds") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/events.parquet").exists(), s"$dir not present")
    // percentile sketch vs exact: GK summaries guarantee rank error <=
    // n/accuracy; with day-group sizes << accuracy=1000 the sketch answer
    // must be AN ELEMENT within one rank of the interpolated exact value,
    // so |approx - exact| is bounded by the widest adjacent-value gap.
    // Assert the practical bound: approx within the group's [min, max] and
    // p50 <= p95.
    val approx = graft.Queries.all("q44_sketch_percentiles")(spark, dir)
    val exact = graft.Queries.all("q39_percentile_rollup")(spark, dir)
      .withColumnRenamed("day", "day_e")
    // per-group value range: with group size << accuracy the sketch answer
    // is an exact order statistic, so |element - interpolated| is bounded
    // by one inter-element gap: <= range/2 for the median (interpolation
    // halves a gap), <= range for p95
    val ranges = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("user_id").as("uid_r"), date_trunc("day", col("ts")).as("day_r"))
      .agg((max("value") - min("value")).as("range"),
        min("value").as("vmin"), max("value").as("vmax"))
    val joined = approx.join(exact,
        approx("user_id") === exact("user_id") && approx("day") === col("day_e"))
      .join(ranges, approx("user_id") === col("uid_r") && approx("day") === col("day_r"))
      .select(col("p50_approx"), col("p95_approx"), col("range"),
        col("vmin"), col("vmax"),
        abs(col("p50_approx") - col("p50")).as("d50"),
        abs(col("p95_approx") - col("p95")).as("d95"))
    val stats = joined.agg(count(lit(1)),
      sum(when(col("d50") > col("range") / 2 + 1e-9, 1).otherwise(0)),
      sum(when(col("d95") > col("range") + 1e-9, 1).otherwise(0)),
      sum(when(col("p50_approx") > col("p95_approx"), 1).otherwise(0)),
      sum(when(col("p50_approx") < col("vmin") ||
        col("p95_approx") > col("vmax"), 1).otherwise(0))).collect()(0)
    assert(stats.getLong(0) == 4006L, "all groups joined")
    assert(stats.getLong(1) == 0L, "median within half a gap of exact")
    assert(stats.getLong(2) == 0L, "p95 within one gap of exact")
    assert(stats.getLong(3) == 0L, "p50 <= p95 monotonicity")
    assert(stats.getLong(4) == 0L, "sketch values inside the group range")

    // HLL++ rsd=0.02: assert observed relative error under 3x the nominal
    val d = graft.Queries.all("q45_sketch_distinct")(spark, dir)
    val e = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("day", col("ts")).as("day_e"))
      .agg(countDistinct("user_id").as("users_exact"),
        countDistinct("event_type").as("types_exact"))
    val rel = d.join(e, d("day") === col("day_e"))
      .select(
        (abs(col("users_approx") - col("users_exact")) /
          col("users_exact").cast("double")).as("ru"),
        (abs(col("types_approx") - col("types_exact")) /
          col("types_exact").cast("double")).as("rt"))
      .agg(max("ru"), max("rt")).collect()(0)
    assert(rel.getDouble(0) <= 0.06, s"user-cardinality rel err ${rel.getDouble(0)}")
    assert(rel.getDouble(1) <= 0.06, s"type-cardinality rel err ${rel.getDouble(1)}")
  }

  test("ewma matches the sequential recurrence across chunk boundaries") {
    // reference: plain sequential y_1 = x_1; y_i = (1-a)y_{i-1} + a x_i
    def seqEwma(xs: Seq[Double], a: Double): Seq[Double] =
      xs.tail.scanLeft(xs.head)((y, x) => (1 - a) * y + a * x)

    val rng = new scala.util.Random(7)
    val series = Map(
      "u1" -> Seq.fill(137)(rng.nextDouble() * 100),   // spans many chunks
      "u2" -> Seq(42.0),                               // single element
      "u3" -> Seq.fill(5)(rng.nextDouble() * 10))      // single chunk
    val rows = series.toSeq.flatMap { case (u, xs) =>
      xs.zipWithIndex.map { case (x, i) =>
        // 6h spacing -> 1d chunks hold <= 4 rows, with boundary crossings
        (u, new java.sql.Timestamp(i * 6L * 3600 * 1000), i.toLong, x)
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val out = AnalyticsOps.ewma(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), alpha = 0.3, bucketMs = 86400000L)
      .select("key", "tie", "ewma")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((u, xs) <- series) {
      val expect = seqEwma(xs, 0.3)
      for (i <- xs.indices) {
        val got = out((u, i.toLong))
        assert(math.abs(got - expect(i)) <= 1e-9 * math.max(1.0, math.abs(expect(i))),
          s"$u[$i]: got $got expected ${expect(i)}")
      }
    }
    // chunking must not change results: one giant chunk == daily chunks
    val single = AnalyticsOps.ewma(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), alpha = 0.3, bucketMs = Long.MaxValue / 4)
      .select("key", "tie", "ewma")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((k, v) <- out)
      assert(math.abs(single(k) - v) <= 1e-9 * math.max(1.0, math.abs(v)),
        s"chunking changed $k: $v vs ${single(k)}")
  }

  test("cusum is bit-identical to the sequential recurrence, any chunking") {
    // reference: s_0 = 0; s_i = max(0, s_{i-1} + (x_i - k)), in cents
    def cents(v: Double): Long = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
    def seqCusum(xs: Seq[Double], k: Double): Seq[Long] = {
      val kc = cents(k)
      xs.scanLeft(0L)((s, x) => math.max(0L, s + cents(x) - kc)).tail
    }
    val rng = new scala.util.Random(11)
    val series = Map(
      "u1" -> Seq.fill(137)(rng.nextDouble() * 100),  // spans many chunks
      "u2" -> Seq(42.0),                              // single element
      "u3" -> Seq.fill(3000)(rng.nextDouble() * 120)) // mega chunk (no FP decay
                                                      // to underflow: tropical)
    val rows = series.toSeq.flatMap { case (u, xs) =>
      xs.zipWithIndex.map { case (x, i) =>
        (u, new java.sql.Timestamp(i * 6L * 3600 * 1000), i.toLong, x)
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    def run(bucketMs: Long) = AnalyticsOps.cusum(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), k = 50.0, h = 200.0, bucketMs = bucketMs)
      .select("key", "tie", "cusum", "alarm")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getDouble(2), r.getBoolean(3))))
      .toMap
    val daily = run(86400000L)
    for ((u, xs) <- series) {
      val expect = seqCusum(xs, 50.0)
      for (i <- xs.indices) {
        val (got, alarm) = daily((u, i.toLong))
        assert(got == expect(i).toDouble / 100.0,   // EXACT — integer scan
          s"$u[$i]: got $got expected ${expect(i)}")
        assert(alarm == (expect(i) > 20000L), s"$u[$i] alarm")
      }
    }
    // chunking invariance is also EXACT (tropical ops don't reassociate)
    val giant = run(Long.MaxValue / 4)
    assert(giant == daily, "chunking changed the CUSUM output")
  }

  test("madOutliers picks lower medians by rank and survives zero MAD") {
    val ev = (
      // A (odd n=5): median 11, MAD 1 -> only 100 exceeds 3*MAD
      Seq(("A", 1L, 10.0), ("A", 2L, 12.0), ("A", 3L, 11.0),
        ("A", 4L, 100.0), ("A", 5L, 10.0)) ++
      // B (even n=4): LOWER median 2 (not interpolated 2.5), MAD 1
      Seq(("B", 6L, 1.0), ("B", 7L, 2.0), ("B", 8L, 3.0), ("B", 9L, 4.0)) ++
      // C: majority identical -> MAD 0; any deviation flags
      Seq(("C", 10L, 7.0), ("C", 11L, 7.0), ("C", 12L, 7.0), ("C", 13L, 50.0))
    ).toDF("k", "id", "value").withColumn("b", lit(1))
    val out = AnalyticsOps.madOutliers(ev, col("k"), col("b"), col("id"),
        col("value"), k = 3.0)
      .select("tie", "median", "mad", "is_outlier")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((11.0, 1.0, false)))
    assert(out(4L) == ((11.0, 1.0, true)), "89 > 3*1 must flag")
    assert(out(6L) == ((2.0, 1.0, false)), "even group takes the LOWER median")
    assert(out(9L) == ((2.0, 1.0, false)), "dev 2 <= 3*MAD: not flagged")
    assert(out(10L) == ((7.0, 0.0, false)))
    assert(out(13L) == ((7.0, 0.0, true)), "zero-MAD group flags any deviation")
  }

  test("rollingActives counts trailing-window distinct keys per observed day") {
    val day = 86400000L
    val ev = Seq(
      ("u1", 0L), ("u1", 2 * day), // active d0, d2
      ("u2", 1 * day),             // active d1
      ("u1", 10L)                  // same day as d0 -> dedup
    ).map { case (u, ms) => (u, new java.sql.Timestamp(ms)) }
      .toDF("user_id", "ts")
    val out = AnalyticsOps.rollingActives(ev, col("user_id"), col("ts"), 2)
      .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, day -> 2L, 2 * day -> 2L),
      s"windows: d0={u1}, d1={u1@d0,u2}, d2={u1@d2,u2@d1}; got $out")
  }

  test("cusum clamps at zero and alarms strictly above h") {
    // k = 10: drifts +5, -20 (clamped), +10.01 cents-boundary
    val ev = Seq(
      ("u", 0L, 1L, 15.0),    // s = 5.00
      ("u", 1000L, 2L, 0.0),  // s = max(0, 5 - 10) = 0
      ("u", 2000L, 3L, 30.0), // s = 20.00 == h -> NOT alarmed (strict >)
      ("u", 3000L, 4L, 10.01) // s = 20.01 > h -> alarmed
    ).map { case (u, ms, id, v) => (u, new java.sql.Timestamp(ms), id, v) }
      .toDF("user_id", "ts", "event_id", "value")
    val out = AnalyticsOps.cusum(ev, col("user_id"), col("ts"),
        col("event_id"), col("value"), k = 10.0, h = 20.0, bucketMs = 86400000L)
      .select("tie", "cusum", "alarm")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((5.0, false)))
    assert(out(2L) == ((0.0, false)), "negative drift clamps at zero")
    assert(out(3L) == ((20.0, false)), "s == h is not an alarm (strict)")
    assert(out(4L) == ((20.01, true)))
  }

  test("ewma long chunks survive beta^n underflow (chunk-final affine is positional)") {
    // (1-alpha)^n underflows to exactly 0.0 after ~2090 rows at alpha=0.3,
    // so every row past that point in a chunk has cPre == 0.0. Selecting
    // the chunk-final affine by min(cPre)/min_by(dPre, cPre) would then tie
    // across thousands of rows and hand an arbitrary mid-chunk dPre to the
    // next chunk. A 3500-row first chunk followed by a short second chunk
    // pins the positional (max_by struct(ts, tie)) selection: the second
    // chunk's values are only right if the first chunk's OUTGOING state was
    // taken from its true last row.
    def seqEwma(xs: Seq[Double], a: Double): Seq[Double] =
      xs.tail.scanLeft(xs.head)((y, x) => (1 - a) * y + a * x)
    val rng = new scala.util.Random(99)
    val xs = Seq.fill(3500)(rng.nextDouble() * 100) ++ Seq.fill(8)(rng.nextDouble() * 100)
    val dayMs = 86400000L
    val rows = xs.zipWithIndex.map { case (x, i) =>
      // first 3500 rows in day 0 (24s spacing), the rest in day 1
      val ms = if (i < 3500) i * 24000L else dayMs + (i - 3500) * 24000L
      ("u1", new java.sql.Timestamp(ms), i.toLong, x)
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value").repartition(8)
    val out = AnalyticsOps.ewma(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), alpha = 0.3, bucketMs = dayMs)
      .select("tie", "ewma")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = seqEwma(xs, 0.3)
    for (i <- xs.indices) {
      val got = out(i.toLong)
      assert(math.abs(got - expect(i)) <= 1e-9 * math.max(1.0, math.abs(expect(i))),
        s"row $i: got $got expected ${expect(i)}")
    }
  }

  test("holt level/trend match the sequential recurrence across chunk boundaries") {
    // reference: l1 = x1, b1 = 0; then l = a*x + (1-a)(l+b), b = g(l-l')+(1-g)b
    def seqHolt(xs: Seq[Double], a: Double, g: Double): Seq[(Double, Double)] = {
      var l = xs.head; var b = 0.0
      (l, b) +: xs.tail.map { x =>
        val lPrev = l
        l = a * x + (1 - a) * (l + b)
        b = g * (l - lPrev) + (1 - g) * b
        (l, b)
      }
    }
    val rng = new scala.util.Random(13)
    // trending series so the trend component is non-trivial
    val series = Map(
      "u1" -> (0 until 120).map(i => 2.0 * i + 10 * rng.nextDouble()),
      "u2" -> Seq(7.0),
      "u3" -> (0 until 6).map(i => 50.0 - 3.0 * i))
    val rows = series.toSeq.flatMap { case (u, xs) =>
      xs.zipWithIndex.map { case (x, i) =>
        (u, new java.sql.Timestamp(i * 6L * 3600 * 1000), i.toLong, x)
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val out = AnalyticsOps.holt(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), alpha = 0.4, betaT = 0.2,
        bucketMs = 86400000L)
      .select("key", "tie", "level", "trend", "forecast")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    for ((u, xs) <- series) {
      val expect = seqHolt(xs, 0.4, 0.2)
      for (i <- xs.indices) {
        val (l, b, f) = out((u, i.toLong))
        val (el, eb) = expect(i)
        val tol = 1e-9 * math.max(1.0, math.abs(el))
        assert(math.abs(l - el) <= tol, s"$u[$i] level: $l vs $el")
        assert(math.abs(b - eb) <= tol, s"$u[$i] trend: $b vs $eb")
        assert(math.abs(f - (l + b)) <= 1e-12, "forecast = level + trend")
      }
    }
  }

  test("damped holt matches the sequential recurrence and phi=1 equals classic") {
    def seqDamped(xs: Seq[Double], a: Double, g: Double, phi: Double): Seq[(Double, Double)] = {
      var l = xs.head; var b = 0.0
      (l, b) +: xs.tail.map { x =>
        val lPrev = l
        l = a * x + (1 - a) * (l + phi * b)
        b = g * (l - lPrev) + (1 - g) * (phi * b)
        (l, b)
      }
    }
    val rng = new scala.util.Random(29)
    val series = Map(
      "u1" -> (0 until 120).map(i => 2.0 * i + 10 * rng.nextDouble()),
      "u2" -> (0 until 9).map(i => 100.0 - 5.0 * i))
    val rows = series.toSeq.flatMap { case (u, xs) =>
      xs.zipWithIndex.map { case (x, i) =>
        (u, new java.sql.Timestamp(i * 6L * 3600 * 1000), i.toLong, x)
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val out = AnalyticsOps.holt(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), alpha = 0.4, betaT = 0.2,
        bucketMs = 86400000L, phi = 0.85)
      .select("key", "tie", "level", "trend", "forecast")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    for ((u, xs) <- series) {
      val expect = seqDamped(xs, 0.4, 0.2, 0.85)
      for (i <- xs.indices) {
        val (l, b, f) = out((u, i.toLong))
        val (el, eb) = expect(i)
        val tol = 1e-9 * math.max(1.0, math.abs(el))
        assert(math.abs(l - el) <= tol, s"$u[$i] level: $l vs $el")
        assert(math.abs(b - eb) <= tol, s"$u[$i] trend: $b vs $eb")
        assert(math.abs(f - (l + 0.85 * b)) <= 1e-12, "forecast = level + phi*trend")
      }
    }
    // phi = 1.0 must be BIT-IDENTICAL to the pre-damping classic holt path
    val classic = AnalyticsOps.holt(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), alpha = 0.4, betaT = 0.2,
        bucketMs = 86400000L)
      .select("key", "tie", "level", "trend", "forecast")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val explicit = AnalyticsOps.holt(df, col("user_id"), col("ts"),
        col("event_id"), col("value"), alpha = 0.4, betaT = 0.2,
        bucketMs = 86400000L, phi = 1.0)
      .select("key", "tie", "level", "trend", "forecast")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(classic == explicit, "phi = 1.0 is exact: x*1.0 == x for all finite x")
  }

  test("holtWinters matches the sequential recurrence across chunk boundaries") {
    // reference: seed (l,b,q)=(x1,0,0..0); l'=(1-a)(l+b)+a(x-q_m);
    // b'=bt(l'-l)+(1-bt)b; s=g(x-l')+(1-g)q_m; lag window shifts
    def seqHw(xs: Seq[Double], a: Double, bt: Double, g: Double, m: Int)
        : Seq[(Double, Double, Double, Double)] = {
      var l = xs.head; var b = 0.0
      var q = Vector.fill(m)(0.0)
      xs.map { x =>
        val qm = q.last
        val lPrev = l
        l = (1 - a) * (l + b) + a * (x - qm)
        b = bt * (l - lPrev) + (1 - bt) * b
        val s = g * (x - l) + (1 - g) * qm
        q = s +: q.init
        (l, b, s, l + b + q.last)
      }
    }
    val m = 7
    val rng = new scala.util.Random(31)
    // trending series with a planted period-m seasonal pattern + noise
    val season = Array.tabulate(m)(j => 5.0 * math.sin(2 * math.Pi * j / m))
    val series = Map(
      "u1" -> (0 until 150).map(i => 0.5 * i + season(i % m) + rng.nextDouble()),
      "u2" -> Seq(9.0),
      "u3" -> (0 until 10).map(i => 40.0 - i + season(i % m)))
    val rows = series.toSeq.flatMap { case (u, xs) =>
      xs.zipWithIndex.map { case (x, i) =>
        // 6h spacing -> 1d chunks hold <= 4 rows, with boundary crossings
        (u, new java.sql.Timestamp(i * 6L * 3600 * 1000), i.toLong, x)
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    def run(bucketMs: Long) =
      AnalyticsOps.holtWinters(df, col("user_id"), col("ts"),
          col("event_id"), col("value"), alpha = 0.4, betaT = 0.2,
          gamma = 0.3, period = m, bucketMs = bucketMs)
        .select("key", "tie", "level", "trend", "seasonal", "forecast")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val out = run(86400000L)
    for ((u, xs) <- series) {
      val expect = seqHw(xs, 0.4, 0.2, 0.3, m)
      for (i <- xs.indices) {
        val (l, b, s, f) = out((u, i.toLong))
        val (el, eb, es, ef) = expect(i)
        def ck(g0: Double, e: Double, what: String) =
          assert(math.abs(g0 - e) <= 1e-9 * math.max(1.0, math.abs(e)),
            s"$u[$i] $what: $g0 vs $e")
        ck(l, el, "level"); ck(b, eb, "trend"); ck(s, es, "seasonal"); ck(f, ef, "forecast")
      }
    }
    // chunking must not change results: one giant chunk == daily chunks
    val single = run(Long.MaxValue / 4)
    for ((k, (l, b, s, f)) <- out) {
      val (l2, b2, s2, f2) = single(k)
      for (((x, y), what) <- Seq((l, l2), (b, b2), (s, s2), (f, f2))
          .zip(Seq("level", "trend", "seasonal", "forecast")))
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)),
          s"chunking changed $k $what: $x vs $y")
    }
  }

  test("histogram bins are globally aligned and carry per-bin extremes") {
    val ev = Seq(("k", 1, -0.5), ("k", 1, 3.0), ("k", 1, 9.9), ("k", 1, 10.0))
      .toDF("k", "b", "value")
    val out = AnalyticsOps.histogram(ev, col("k"), col("b"), col("value"), 10.0)
      .collect().map(r => r.getLong(r.fieldIndex("bin")) ->
        ((r.getLong(r.fieldIndex("cnt")),
          r.getDouble(r.fieldIndex("bin_min")), r.getDouble(r.fieldIndex("bin_max"))))).toMap
    assert(out(-1L) == ((1L, -0.5, -0.5)), "negative values floor downward")
    assert(out(0L) == ((2L, 3.0, 9.9)))
    assert(out(1L) == ((1L, 10.0, 10.0)), "boundary value opens the next bin")
  }

  test("forecastAnomalies flags residuals beyond k sigma, never series heads") {
    // u1: flat around 10 with one spike at t=4; u2: single point (no resid)
    val vals = Seq(10.0, 10.0, 10.0, 10.0, 50.0, 10.0, 10.0, 10.0, 10.0, 10.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      ("u1", new java.sql.Timestamp(i * 60000L), i.toLong, v)
    } :+ (("u2", new java.sql.Timestamp(0L), 99L, 5.0))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val smoothed = AnalyticsOps.ewma(df, col("user_id"), col("ts"),
      col("event_id"), col("value"), alpha = 0.5, bucketMs = 3600000L)
    val out = AnalyticsOps.forecastAnomalies(smoothed, "ewma", k = 2.0)
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        ((Option(r.get(r.fieldIndex("resid"))).map(_.asInstanceOf[Double]),
          r.getBoolean(r.fieldIndex("is_anomaly")))))
      .toMap
    // independent sequential twin: ewma then two-pass sigma over residuals
    val seq = vals.scanLeft(Double.NaN)((y, x) => if (y.isNaN) x else 0.5 * y + 0.5 * x).tail
    val resids = vals.indices.drop(1).map(i => vals(i) - seq(i - 1))
    val mu = resids.sum / resids.size
    val sd = math.sqrt(resids.map(r => (r - mu) * (r - mu)).sum / resids.size)
    for (i <- vals.indices.drop(1)) {
      val (r, flag) = out(("u1", i.toLong))
      assert(math.abs(r.get - resids(i - 1)) < 1e-9, s"t=$i resid")
      assert(flag == (math.abs(resids(i - 1)) > 2.0 * sd), s"t=$i flag (sd=$sd)")
    }
    assert(out(("u1", 0L)) == ((None, false)), "series head: NULL resid, never flagged")
    assert(out(("u1", 4L))._2, "the spike must actually be flagged")
    assert(out(("u2", 99L)) == ((None, false)), "single-point key survives the left join")
  }

  test("jsonPropStats extracts $.k per type and counts missing/corrupt rows") {
    val ev = Seq(
      ("click", """{"k": 3}"""),
      ("click", """{"k": 7}"""),
      ("click", """{"other": 1}"""), // path absent → missing
      ("view", """not json"""),      // corrupt → missing
      ("view", """{"k": 10}""")
    ).toDF("event_type", "props")
    val out = AnalyticsOps.jsonPropStats(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out("click") == ((3L, 1L, 10L, 5.0, 3L, 7L)), s"got ${out("click")}")
    assert(out("view") == ((2L, 1L, 10L, 10.0, 10L, 10L)), s"got ${out("view")}")
  }

  test("ohlc picks first/last by (ts, tie) and extremes per candle") {
    val ev = Seq(
      // bucket 1: open=5 (earliest), high=9, low=2, close=7 (latest)
      ("u1", 1L, 1000L, 1L, 5.0), ("u1", 1L, 2000L, 2L, 9.0),
      ("u1", 1L, 3000L, 3L, 2.0), ("u1", 1L, 4000L, 4L, 7.0),
      // bucket 2: duplicate ts — tie column must decide open (id 5) and
      // close (id 6), independent of partition order
      ("u1", 2L, 9000L, 5L, 1.0), ("u1", 2L, 9000L, 6L, 4.0)
    ).toDF("k", "b", "ts", "tie", "value").repartition(8)
    val out = AnalyticsOps.ohlc(ev, col("k"), col("b"), col("ts"),
        col("tie"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6)))).toMap
    assert(out(("u1", 1L)) == ((5.0, 9.0, 2.0, 7.0, 4L)))
    assert(out(("u1", 2L)) == ((1.0, 4.0, 1.0, 4.0, 2L)),
      "dup-ts open/close resolved by the tie column")
  }

  test("pairCorrelation aligns on buckets and emits each pair once") {
    // series a and b move together (r=1), a and c oppositely (r=-1);
    // c misses bucket 4, so (a,c)/(b,c) correlate over 3 buckets only
    val rows =
      Seq(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0).flatMap { case (t, v) =>
        Seq(("a", t, v), ("b", t, 10 + 2 * v)) ++
          (if (t < 4) Seq(("c", t, -v)) else Nil)
      }
    val ev = rows.toDF("series", "bucket", "value")
    val out = AnalyticsOps.pairCorrelation(ev, col("series"), col("bucket"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")),
      "each unordered pair exactly once")
    assert(math.abs(out(("a", "b"))._1 - 1.0) < 1e-12)
    assert(out(("a", "b"))._2 == 4L)
    assert(math.abs(out(("a", "c"))._1 + 1.0) < 1e-12)
    assert(out(("a", "c"))._2 == 3L, "missing bucket drops from the pair")
  }

  test("seasonalDecompose splits value into trend + phase profile + residual") {
    // value = day-trend + hour-shape exactly: residuals must vanish and the
    // recovered parts must match construction
    val trendByDay = Map(1L -> 15.0, 2L -> 35.0)
    val shapeByHour = Map(0 -> -5.0, 1 -> 5.0)
    val ev = (for {
      (d, t) <- trendByDay.toSeq; (h, s) <- shapeByHour.toSeq
    } yield (d * 100 + h, "u1", d, h, t + s))
      .toDF("event_id", "user_id", "day", "hod", "value").repartition(8)
    val out = AnalyticsOps.seasonalDecompose(ev, col("user_id"), col("day"),
        col("hod"), col("value"))
      .select("event_id", "trend", "seasonal", "residual")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    for ((d, t) <- trendByDay; (h, s) <- shapeByHour) {
      val (gt, gs, gr) = out(d * 100 + h)
      assert(math.abs(gt - t) < 1e-12, s"day $d trend")
      assert(math.abs(gs - s) < 1e-12, s"hour $h seasonal")
      assert(math.abs(gr) < 1e-12, s"($d,$h) residual")
    }
  }

  test("seasonalDecomposeExact tracks the generic variant and is " +
      "bit-identical at any parallelism") {
    // 2-decimal values, deliberately awkward counts (3 rows/cell) so plain
    // double sums would reassociate; the exact variant must not care
    var seed = 7L
    def lcg(): Double = { seed = (seed * 1103515245L + 12345L) & 0x7fffffffL
      ((seed % 10000L) - 5000L) / 100.0 }
    val rows = for (d <- 1 to 5; h <- 0 to 3; r <- 1 to 3)
      yield (((d * 100 + h) * 10 + r).toLong, "u%d".format(r % 2), d, h, lcg())
    val ev = rows.toDF("event_id", "user_id", "day", "hod", "value")
    def run(parts: Int) = AnalyticsOps.seasonalDecomposeExact(
        ev.repartition(parts), col("user_id"), col("day"), col("hod"),
        col("value"), decimals = 2)
      .select("event_id", "trend", "seasonal", "residual")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val exact1 = run(1)
    val exact17 = run(17)
    assert(exact1 == exact17, "bit-identical across partitionings")
    val generic = AnalyticsOps.seasonalDecompose(ev, col("user_id"),
        col("day"), col("hod"), col("value"))
      .select("event_id", "trend", "seasonal", "residual")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    for ((id, (t, s, r)) <- exact1) {
      val (gt, gs, gr) = generic(id)
      assert(math.abs(t - gt) < 1e-9 && math.abs(s - gs) < 1e-9 &&
        math.abs(r - gr) < 1e-9, s"row $id: exact vs generic drifted")
    }
  }

  test("hysteresisAlerts fires at hi, holds through the dead band, clears at lo") {
    val rows = Seq(
      // u1: below, FIRE, dead band (stays firing), CLEAR, dead band from
      // below (stays clear — the no-flap contract), FIRE, still firing
      ("u1", 0L, 50.0), ("u1", 1L, 130.0), ("u1", 2L, 100.0),
      ("u1", 3L, 55.0), ("u1", 4L, 70.0), ("u1", 5L, 125.0), ("u1", 6L, 140.0),
      // u2: only dead-band values — seeded state 0, never fires
      ("u2", 0L, 70.0), ("u2", 1L, 80.0)
    ).toDF("k", "b", "v")
    val eps = AnalyticsOps.hysteresisAlerts(rows, col("k"), col("b"),
        col("v"), hi = 120.0, lo = 60.0)
      .orderBy("key", "ep_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(eps.toSeq == Seq(
      ("u1", 1L, 2L, 2L, 130.0), ("u1", 5L, 6L, 2L, 140.0)))
  }

  test("availability counts expected vs observed buckets and the longest gap") {
    val rows = Seq(
      ("u1", "d1", 0L), ("u1", "d1", 60000L), ("u1", "d1", 240000L),
      ("u1", "d1", 240000L), // duplicate observation: counted once
      ("u2", "d1", 60000L)   // single bucket: expected 1, no gap
    ).toDF("k", "d", "b")
    val out = AnalyticsOps.availability(rows, col("k"), col("d"), col("b"),
        60000L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(4)))).toMap
    // (observed, expected, missing, longest_gap_ms)
    assert(out(("u1", "d1")) == ((3L, 5L, 2L, 120000L)))
    assert(out(("u2", "d1")) == ((1L, 1L, 0L, 0L)))
  }

  test("calendarBaseline compares each hour to its trailing same-hour history") {
    def t(day: Int, h: Int) =
      new java.sql.Timestamp((day * 24L + h) * 3600000L)
    val rows = Seq(
      ("u", t(0, 3), 10.0), ("u", t(0, 3), 20.0), // day0 3h: mean 15
      ("u", t(1, 3), 30.0),                        // baseline = 15
      ("u", t(2, 3), 40.0),                        // baseline = (10+20+30)/3
      ("u", t(0, 4), 5.0)                          // other hour-of-day: isolated
    ).toDF("k", "ts", "v")
    val out = AnalyticsOps.calendarBaseline(rows, col("k"), col("ts"), col("v"))
      .select("bucket", "mean", "baseline", "ratio")
      .collect().map { r =>
        val hAbs = r.getTimestamp(0).getTime / 3600000L
        ((hAbs / 24).toInt, (hAbs % 24).toInt) ->
          ((r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Double])))
      }.toMap
    assert(out((0, 3)) == ((15.0, None, None)), "no prior history -> NULLs")
    assert(out((1, 3)) == ((30.0, Some(15.0), Some(2.0))))
    assert(out((2, 3))._2 == Some(20.0))
    assert(math.abs(out((2, 3))._3.get - 2.0) < 1e-12)
    assert(out((0, 4)) == ((5.0, None, None)), "hours-of-day are independent")
  }

  test("topMovers ranks |day-over-day change| globally with deterministic ties") {
    val rows = Seq(
      ("a", 1, 10.0), ("a", 2, 50.0),   // change +40
      ("b", 1, 10.0), ("b", 2, 5.0),    // change -5
      ("c", 1, 100.0), ("c", 2, 60.0)   // change -40: |.| ties with a
    ).toDF("k", "d", "v")
    val out = AnalyticsOps.topMovers(rows, col("k"), col("d"), col("v"), 2)
      .select("key", "change")
      .collect().map(r => (r.getString(0), r.getDecimal(1).doubleValue()))
    assert(out.toSeq == Seq(("a", 40.0), ("c", -40.0)),
      "abs ties break by key, first days (no predecessor) excluded")
  }

  test("sloBurnRate measures wall-clock windows and alerts only when both burn") {
    def t(h: Int, i: Int) = new java.sql.Timestamp(h * 3600000L + i)
    val rows = Seq(
      ("u", t(0, 0), "error"), ("u", t(0, 1), "view"),  // hour0: 1/2
      ("u", t(7, 0), "view"),                            // hour7: 0/1
      ("u", t(8, 0), "error"), ("u", t(8, 1), "error")   // hour8: 2/2
    ).toDF("k", "ts", "et")
    val out = AnalyticsOps.sloBurnRate(rows, col("k"), col("ts"),
        col("et") === "error", budget = 0.25, shortMs = 3600000L,
        longMs = 6L * 3600000L, threshold = 1.0)
      .select("bucket", "burn_short", "burn_long", "alert")
      .collect().map(r => r.getLong(0) / 3600000L ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(0L) == ((2.0, 2.0, true)), "hour0: 0.5/0.25 both windows")
    assert(out(7L) == ((0.0, 0.0, false)),
      "hour0 is OUTSIDE hour7's 6h range frame (a row frame would include it)")
    val (s8, l8, a8) = out(8L)
    assert(s8 == 4.0 && a8, "hour8 short window burns at 4x")
    assert(math.abs(l8 - (2.0 / 3.0 / 0.25)) < 1e-12,
      "hour8 long window spans hours 3-8: hour7 + hour8 only")
  }

  test("histogramDrift is 0 for identical, 1 for disjoint, exact in between") {
    val day = 86400000L
    // k1 day0: bins {0:2, 1:2}; day1 identical -> tvd 0
    // k1 day2: bins {2:4} (disjoint from day1) -> tvd 1
    // k2 day0: {0:2}; day1: {0:1, 1:1} -> tvd = |1*2-2*2|+|1*2-0*2| / (2*2*2) = 0.5
    val rows = Seq(
      ("k1", 0L, 5.0), ("k1", 0L, 5.0), ("k1", 0L, 15.0), ("k1", 0L, 15.0),
      ("k1", 1L, 5.0), ("k1", 1L, 5.0), ("k1", 1L, 15.0), ("k1", 1L, 15.0),
      ("k1", 2L, 25.0), ("k1", 2L, 25.0), ("k1", 2L, 25.0), ("k1", 2L, 25.0),
      ("k2", 0L, 5.0), ("k2", 0L, 5.0),
      ("k2", 1L, 5.0), ("k2", 1L, 15.0)
    ).map { case (k, d, v) => (k, d * day, v) }.toDF("k", "p", "v")
    val out = AnalyticsOps.histogramDrift(rows, col("k"), col("p"), day,
        col("v"), binWidth = 10.0)
      .collect().map(r => (r.getString(0), r.getLong(1) / day) ->
        r.getDouble(4)).toMap
    assert(out(("k1", 1L)) == 0.0, "identical histograms drift 0")
    assert(out(("k1", 2L)) == 1.0, "disjoint histograms drift 1")
    assert(out(("k2", 1L)) == 0.5)
    assert(!out.contains(("k1", 0L)), "first period has no predecessor")
    assert(out.size == 3)
  }

  test("quantileSax emits slot-ordered words with rank-quantile symbols") {
    val rows = Seq(
      ("u", "f1", 2, 30.0), ("u", "f1", 0, 10.0),
      ("u", "f1", 1, 20.0), ("u", "f1", 3, 40.0),
      ("u", "f2", 0, 5.0), ("u", "f2", 1, 5.0) // tie: earlier slot ranks lower
    ).toDF("k", "f", "slot", "v")
    val out = DownsampleOps.quantileSax(rows, col("k"), col("f"),
        col("slot"), col("v"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(out(("u", "f1")) == (("abcd", 4L)),
      "word is in SLOT order even though ranks are by value")
    assert(out(("u", "f2")) == (("ab", 2L)))
  }

  test("mannKendall matches the sequential definition, ties and edges included") {
    val day = 86400000L
    val rng = new scala.util.Random(71)
    // per-key series: a rising trend, a falling one, a heavy-tie series,
    // a single point, and an all-tied pair; irregular day spacing
    val series: Map[String, Seq[(Long, Double)]] = Map(
      "up" -> (0 until 24).map(i => (i * day + (i % 3) * day, 10.0 + i * 1.5 + rng.nextInt(200) / 100.0)),
      "down" -> (0 until 17).map(i => (i * 2 * day, 300.0 - i * 4.0 + rng.nextInt(300) / 100.0)),
      "ties" -> (0 until 20).map(i => (i * day, Seq(5.0, 5.0, 7.0, 7.0, 7.0)(i % 5))),
      "one" -> Seq((0L, 42.0)),
      "flat" -> Seq((0L, 9.0), (day, 9.0), (2 * day, 9.0))
    ).map { case (k, v) =>
      // distinct ts per key (contract); collapse the deliberate dups in "up"
      k -> v.groupBy(_._1).map { case (t, rs) => (t, rs.head._2) }.toSeq.sortBy(_._1)
    }
    val df = series.toSeq.flatMap { case (k, pts) =>
      pts.map { case (t, v) => (k, new java.sql.Timestamp(t), v) }
    }.toDF("k", "ts", "v")
    val out = AnalyticsOps.mannKendall(df, col("k"), col("ts"), col("v"), day)
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]), r.getString(5),
          Option(r.get(6)).map(_.asInstanceOf[Double])))
      }.toMap

    for ((k, pts) <- series) {
      val n = pts.length
      val vc = pts.map { case (_, v) => math.round(v * 100) }
      val ts = pts.map(_._1)
      val idx = for (i <- 0 until n; j <- i + 1 until n) yield (i, j)
      val sRef = idx.map { case (i, j) => java.lang.Long.signum(vc(j) - vc(i)).toLong }.sum
      val tsum = vc.groupBy(identity).values.map(_.length.toLong)
        .map(t => t * (t - 1) * (t * 2 + 5)).sum
      val varRef = (n.toLong * (n - 1) * (n * 2 + 5) - tsum).toDouble / 18.0
      val zRef = if (varRef == 0.0) None
        else if (sRef > 0) Some((sRef - 1).toDouble / math.sqrt(varRef))
        else if (sRef < 0) Some((sRef + 1).toDouble / math.sqrt(varRef))
        else Some(0.0)
      val slopes = idx.map { case (i, j) =>
        ((vc(j) - vc(i)).toDouble / 100.0 /
          ((ts(j) - ts(i)).toDouble / day.toDouble), ts(i), ts(j))
      }.sorted
      val senRef = if (slopes.isEmpty) None
        else Some(slopes((slopes.length - 1) / 2)._1)
      val (gn, gs, gvar, gz, gtrend, gsen) = out(k)
      assert(gn == n && gs == sRef, s"$k: n/S")
      assert(gvar == varRef, s"$k: var")
      assert(gz == zRef, s"$k: z")
      assert(gsen == senRef, s"$k: sen slope")
      val wantTrend = gz match {
        case Some(z) if z > 1.96 => "increasing"
        case Some(z) if z < -1.96 => "decreasing"
        case _ => "no trend"
      }
      assert(gtrend == wantTrend, s"$k: trend")
    }
    assert(out("up")._5 == "increasing")
    assert(out("down")._5 == "decreasing")
    assert(out("flat")._4.isEmpty && out("flat")._5 == "no trend",
      "all-tied series: var 0 -> z null")
    assert(out("one") == ((1L, 0L, 0.0, None, "no trend", None)))
  }

  test("seasonalMannKendall matches the Hirsch-Slack sequential definition") {
    val hourMs = 3600000L
    val rng = new scala.util.Random(79)
    // "cycle": pure diurnal sine over 20 days — strong hour-to-hour swing,
    // zero within-season trend; "drift": the same cycle plus a slow rise;
    // "sparse": one observation per season (no pairs at all)
    def diurnal(h: Long): Double = 50.0 + 30.0 * math.sin(h % 24 * math.Pi / 12)
    val series: Map[String, Seq[(Long, Double)]] = Map(
      "cycle" -> (0 until 480).map(i =>
        (i * hourMs, diurnal(i) + rng.nextInt(100) / 100.0)),
      "drift" -> (0 until 480).map(i =>
        (i * hourMs, diurnal(i) + i * 0.05 + rng.nextInt(100) / 100.0)),
      "sparse" -> (0 until 24).map(i => (i * hourMs, rng.nextInt(5000) / 100.0))
    )
    val df = series.toSeq.flatMap { case (k, pts) =>
      pts.map { case (t, v) => (k, new java.sql.Timestamp(t), v) }
    }.toDF("k", "ts", "v")
    val out = AnalyticsOps.seasonalMannKendall(df, col("k"), col("ts"),
        col("v"), org.apache.spark.sql.functions.hour(col("ts")), 86400000L)
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]), r.getString(5),
          Option(r.get(6)).map(_.asInstanceOf[Double])))
      }.toMap

    for ((k, pts) <- series) {
      val vc = pts.map { case (_, v) => math.round(v * 100) }
      val ts = pts.map(_._1)
      val season = ts.map(t => t / hourMs % 24)
      val idx = for (i <- pts.indices; j <- i + 1 until pts.length
        if season(i) == season(j)) yield (i, j)
      val sRef = idx.map { case (i, j) => java.lang.Long.signum(vc(j) - vc(i)).toLong }.sum
      val varInt = season.distinct.map { g =>
        val gv = pts.indices.filter(season(_) == g).map(vc)
        val ng = gv.length.toLong
        val tsum = gv.groupBy(identity).values.map(_.length.toLong)
          .map(t => t * (t - 1) * (t * 2 + 5)).sum
        ng * (ng - 1) * (ng * 2 + 5) - tsum
      }.sum
      val varRef = varInt.toDouble / 18.0
      val zRef = if (varRef == 0.0) None
        else if (sRef > 0) Some((sRef - 1).toDouble / math.sqrt(varRef))
        else if (sRef < 0) Some((sRef + 1).toDouble / math.sqrt(varRef))
        else Some(0.0)
      val slopes = idx.map { case (i, j) =>
        ((vc(j) - vc(i)).toDouble / 100.0 /
          ((ts(j) - ts(i)).toDouble / 86400000.0), ts(i), ts(j))
      }.sorted
      val senRef = if (slopes.isEmpty) None
        else Some(slopes((slopes.length - 1) / 2)._1)
      val (gn, gs, gvar, gz, _, gsen) = out(k)
      assert(gn == pts.length && gs == sRef, s"$k: n/S")
      assert(gvar == varRef, s"$k: var")
      assert(gz == zRef, s"$k: z")
      assert(gsen == senRef, s"$k: sen slope")
    }
    assert(out("cycle")._5 == "no trend",
      "a pure diurnal cycle must not register as a seasonal trend")
    assert(out("drift")._5 == "increasing")
    assert(out("sparse") == ((24L, 0L, 0.0, None, "no trend", None)),
      "one obs per season: no pairs, var 0, z null")
    // classic MK is the constant-season special case — same rows exactly
    val classic = AnalyticsOps.mannKendall(df, col("k"), col("ts"), col("v"))
    val viaConst = AnalyticsOps.seasonalMannKendall(df, col("k"), col("ts"),
      col("v"), lit(7L))
    assert(classic.collect().toSet == viaConst.collect().toSet)
  }

  test("histogramQuantile interpolates like Prometheus, boundary = upper edge") {
    val w = 10.0
    // key "a": bins 0(cnt 4), 1(cnt 4), 3(cnt 2) — total 10.
    //   q=0.5: rank 5 -> bin 1 (cum 8 >= 5), est = 10 + (5-4)/4*10 = 12.5
    //   q=0.8: rank 8 = cum of bin 1 EXACTLY -> bin 1's upper edge 20.0
    //   q=0.99: rank 9.9 -> bin 3, est = 30 + (9.9-8)/2*10 = 39.5
    // key "b": one bin 7(cnt 3) — every q interpolates inside it
    val hist = Seq(
      ("a", 0L, 0L, 4L), ("a", 0L, 1L, 4L), ("a", 0L, 3L, 2L),
      ("b", 0L, 7L, 3L)
    ).toDF("k", "b", "bin", "cnt")
    val out = AnalyticsOps.histogramQuantile(hist, col("k"), col("b"),
        col("bin"), col("cnt"), w, Seq(0.5, 0.8, 0.99))
      .collect()
      .map(r => (r.getString(0), r.getDouble(2)) -> r.getDouble(3)).toMap
    assert(out(("a", 0.5)) == 12.5)
    assert(out(("a", 0.8)) == 20.0,
      "rank exactly on a bin boundary must return the bin's upper edge")
    assert(out(("a", 0.99)) == 30.0 + (9.9 - 8.0) / 2.0 * 10.0)
    assert(out(("b", 0.5)) == 70.0 + (0.5 * 3.0) / 3.0 * 10.0)
    assert(out(("b", 0.99)) == 70.0 + (0.99 * 3.0) / 3.0 * 10.0)
    // sanity against the true empirical distribution: every estimate lives
    // inside the picked bin's [lower, upper] span
    assert(out.forall { case (_, est) => est >= 0.0 && est <= 80.0 })
  }

  test("changeCompress keeps first-of-run rows and is locf-lossless") {
    // u1: 5,5,7,7,7,5 — three runs (value returning to 5 starts a NEW run);
    // dup-ts rows (ts=2000) order by tie, so the run break lands on tie=4
    val raw = Seq(
      ("u1", 0L, 1L, 5.0), ("u1", 1000L, 2L, 5.0),
      ("u1", 2000L, 3L, 7.0), ("u1", 2000L, 4L, 7.0), ("u1", 3000L, 5L, 7.0),
      ("u1", 4000L, 6L, 5.0),
      ("u2", 0L, 7L, 1.0)
    )
    val df = raw.map { case (u, ms, id, v) =>
      (u, new java.sql.Timestamp(ms), id, v)
    }.toDF("u", "ts", "id", "v")
    val out = AnalyticsOps.changeCompress(df, col("u"), col("ts"),
        col("id"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(out == Set(
      ("u1", 0L, 1L, 5.0, 2L),
      ("u1", 2000L, 3L, 7.0, 3L),
      ("u1", 4000L, 6L, 5.0, 1L),
      ("u2", 0L, 7L, 1.0, 1L)))
    // locf losslessness: replaying each raw row against the latest kept
    // row at-or-before it reproduces the raw value exactly
    val kept = out.toSeq.sortBy { case (u, t, q, _, _) => (u, t, q) }
    for ((u, ms, id, v) <- raw) {
      val locf = kept.filter { case (ku, kt, kq, _, _) =>
        ku == u && (kt < ms || (kt == ms && kq <= id))
      }.last._4
      assert(locf == v, s"locf replay diverged at ($u, $ms, $id)")
    }
  }

  test("forecastAccuracy scores seasonal-naive with gaps and a constant key") {
    val hourMs = 3600000L
    val rng = new scala.util.Random(53)
    // "gappy": 3 days of hourly points with hours 5 and 29 MISSING — hour
    // 29's absence must drop bucket 53 from the numerator (no seasonal
    // predecessor) and leave holes in the one-step denominator too;
    // "flat": constant value -> naive MAE 0 -> NULL mase
    val gappyHours = (0 until 72).filter(h => h != 5 && h != 29)
    val gappy = gappyHours.map(h => (h, rng.nextInt(10000) / 100.0))
    val flat = (0 until 48).map(h => (h, 7.25))
    val df = (gappy.map { case (h, v) => ("gappy", h, v) } ++
        flat.map { case (h, v) => ("flat", h, v) })
      .map { case (u, h, v) => (u, new java.sql.Timestamp(h * hourMs), v) }
      .toDF("u", "ts", "v")
    val out = AnalyticsOps.forecastAccuracy(df, col("u"), col("ts"), col("v"))
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      }.toMap

    // sequential truth over exact cents
    def cents(v: Double) = math.round(v * 100)
    val series = gappy.map { case (h, v) => h.toLong -> cents(v) }.toMap
    val es = gappyHours.flatMap(h =>
      series.get(h.toLong - 24).map(f => series(h.toLong) - f))
    val ds = gappyHours.flatMap(h =>
      series.get(h.toLong - 1).map(p => series(h.toLong) - p))
    val nFc = es.size.toLong
    val saeD = es.map(math.abs(_)).sum.toDouble / 100.0
    val seD = es.sum.toDouble / 100.0
    val sadD = ds.map(math.abs(_)).sum.toDouble / 100.0
    val (gn, gmae, gbias, gmase) = out("gappy")
    assert(gn == nFc)
    // the engine divides double(sum)/double(n): reproduce exactly
    assert(gmae == saeD / nFc.toDouble)
    assert(gbias == seD / nFc.toDouble)
    assert(gmase.get ==
      (saeD / nFc.toDouble) / (sadD / ds.size.toDouble))
    // constant key: perfect forecast, undefined scale
    val (fn, fmae, fbias, fmase) = out("flat")
    assert(fn == 24L && fmae == 0.0 && fbias == 0.0 && fmase.isEmpty,
      "constant series: zero errors, NULL mase (naive MAE is 0)")
  }

  test("rollingActivesSketch tracks exact WAU within the HLL error bound") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/events.parquet").exists(), s"$dir not present")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val exact = AnalyticsOps.rollingActives(ev, col("user_id"), col("ts"), 7)
      .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val approx = AnalyticsOps.rollingActivesSketch(ev,
        col("user_id"), col("ts"), 7)
      .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet,
      "sketch path emits exactly the observed days the exact op emits")
    // lgK=12 => published relative standard error 1.04/sqrt(4096) ~ 1.63%;
    // allow 3 sigma
    for ((d, n) <- exact) {
      val rel = math.abs(approx(d) - n).toDouble / n.toDouble
      assert(rel <= 0.05, s"day $d: sketch ${approx(d)} vs exact $n (rel $rel)")
    }
    // determinism: HLL register merge is order-insensitive, so a
    // repartitioned recompute lands on the identical estimate
    val again = AnalyticsOps.rollingActivesSketch(ev.repartition(7),
        col("user_id"), col("ts"), 7)
      .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    assert(again == approx, "estimate must be bit-stable under repartitioning")
  }

  test("psiDrift is 0 for identical histograms and eps-substitutes empty bins") {
    val dayMs = 86400000L
    def rows(key: String, day: Int, vs: Seq[Double]) =
      vs.map(v => (key, new java.sql.Timestamp(day * dayMs), v))
    // "same": identical day-1/day-2 histograms -> psi exactly 0
    // "shift": day 1 = {bin0: 3, bin1: 1}; day 2 = {bin0: 1, bin1: 3}
    // "gone": day 1 = {bin0: 2}; day 2 = {bin1: 2} -> both eps paths fire
    val df = (rows("same", 1, Seq(5, 15, 5, 15)) ++ rows("same", 2, Seq(5, 15, 5, 15)) ++
      rows("shift", 1, Seq(1, 2, 3, 11)) ++ rows("shift", 2, Seq(1, 11, 12, 13)) ++
      rows("gone", 1, Seq(2, 3)) ++ rows("gone", 2, Seq(12, 13)))
      .toDF("k", "ts", "v")
    val out = AnalyticsOps.psiDrift(df, col("k"),
        unix_millis(col("ts").cast("timestamp")), dayMs, col("v"), 10.0)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(out.keySet == Set("same", "shift", "gone"),
      "only periods with a predecessor emit")
    assert(out("same") == 0.0, s"identical histograms: got ${out("same")}")
    // Spark's codegen'd log() is StrictMath.log (fdlibm), 1 ulp off the
    // Math.log intrinsic for some inputs (e.g. ln 3) — and it's what
    // DuckDB's libm ln matches, which is why the q116 mirror hash-holds
    def term(p: Double, q: Double) = (p - q) * StrictMath.log(p / q)
    val shift = 0.0 + term(0.25, 0.75) + term(0.75, 0.25)
    assert(out("shift") == shift, s"got ${out("shift")} want $shift")
    val gone = 0.0 + term(1e-4, 1.0) + term(1.0, 1e-4)
    assert(out("gone") == gone, s"eps-substituted: got ${out("gone")} want $gone")
  }

  test("staleness flags strictly-older-than-threshold keys, NULL interval at n=1") {
    val hourMs = 3600000L
    val ev = Seq(
      ("live", 0L), ("live", 10 * hourMs),            // age 0: fresh
      ("edge", 0L), ("edge", 4 * hourMs),             // age == threshold: NOT stale
      ("dead", 0L), ("dead", 2 * hourMs),             // age 8h > 6h: stale
      ("once", 3 * hourMs)                            // n=1: NULL interval
    ).map { case (u, ms) => (u, new java.sql.Timestamp(ms)) }.toDF("u", "ts")
    val anchor = ev.agg(max(unix_millis(col("ts").cast("timestamp"))).as("anchor_ms"))
    val out = AnalyticsOps.staleness(ev, col("u"), col("ts"), anchor, 6 * hourMs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getBoolean(4),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(out("live") == ((2L, 0L, false, Some(10.0 * hourMs))))
    assert(out("edge") == ((2L, 6L * hourMs, false, Some(4.0 * hourMs))),
      "age == threshold is not yet stale (strict >)")
    assert(out("dead") == ((2L, 8L * hourMs, true, Some(2.0 * hourMs))))
    assert(out("once") == ((1L, 7L * hourMs, true, None)),
      "single-observation key: stale by age, NULL mean interval")
  }

  test("seriesChurn counts born/active/retired per day, censored at the edge") {
    val dayMs = 86400000L
    val ev = Seq(
      ("a", 0L), ("a", dayMs), ("a", 2 * dayMs),      // alive all 3 days
      ("b", dayMs),                                   // born+retired day 2
      ("c", dayMs), ("c", 2 * dayMs),                 // born day 2, to the edge
      ("a", dayMs + 1000L)                            // dup (key, day): no double count
    ).map { case (u, ms) => (u, new java.sql.Timestamp(ms)) }.toDF("u", "ts")
    val out = AnalyticsOps.seriesChurn(ev, col("u"), col("ts"))
      .collect().map(r => r.getTimestamp(0).getTime ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((1L, 1L, 0L)))
    assert(out(dayMs) == ((3L, 2L, 1L)), "day 2: a+b+c active, b+c born, b retired")
    assert(out(2 * dayMs) == ((2L, 0L, 2L)),
      "corpus edge retires everything still alive (right-censored)")
  }

  test("apdex buckets on the t/4t boundaries inclusively and scores exactly") {
    val ev = Seq(
      ("k", 50.0), ("k", 0.0),      // satisfied (<= t, inclusive)
      ("k", 50.001), ("k", 200.0),  // tolerating (t < v <= 4t, inclusive)
      ("k", 200.001), ("k", 999.0)  // frustrated
    ).map { case (u, v) => (u, 1L, v) }.toDF("u", "b", "v")
    val r = AnalyticsOps.apdex(ev, col("u"), col("b"), col("v"), 50.0)
      .select("satisfied", "tolerating", "frustrated", "total", "apdex")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 2L, 6L)))
    assert(r.getDouble(4) == (2.0 + 2.0 * 0.5) / 6.0)
  }

  test("distinctOverlap computes retained/new/churned set algebra exactly") {
    val dayMs = 86400000L
    def rows(k: String, day: Int, users: Seq[String]) =
      users.map(u => (k, new java.sql.Timestamp(day * dayMs), u))
    val ev = (rows("t", 1, Seq("u1", "u2", "u3")) ++
      rows("t", 2, Seq("u2", "u3", "u4", "u5")) ++
      rows("t", 2, Seq("u2")) ++                  // dup pair: no double count
      rows("gap", 1, Seq("a")) ++ rows("gap", 3, Seq("a")) ++ // no day-2 data
      rows("fresh", 2, Seq("x", "y"))             // no predecessor ever
    ).toDF("k", "ts", "u")
    val out = AnalyticsOps.distinctOverlap(ev, col("k"), col("ts"), col("u"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getDouble(8)))).toMap
    assert(out.keySet == Set(("t", 2 * dayMs)),
      s"only periods whose predecessor has data emit: ${out.keySet}")
    assert(out(("t", 2 * dayMs)) == ((4L, 3L, 2L, 5L, 2L, 1L, 0.4)),
      s"got ${out(("t", 2 * dayMs))}")
  }

  test("distinctOverlapSketch tracks the exact overlap within HLL bounds") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/events.parquet").exists(), s"$dir not present")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val dayMs = 86400000L
    val exact = AnalyticsOps.distinctOverlap(ev, col("event_type"), col("ts"),
        col("user_id"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val approx = AnalyticsOps.distinctOverlapSketch(ev, col("event_type"),
        col("ts"), col("user_id"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(approx.keySet == exact.keySet,
      "sketch path emits exactly the (key, period) pairs the exact op emits")
    for ((k, (cn, pn, ret, un)) <- exact) {
      val (ce, pe, ue, re) = approx(k)
      // lgK=12: ~1.63% rel std err per estimate; 3σ per measured set
      assert(math.abs(ce - cn).toDouble / cn <= 0.05, s"$k curr: $ce vs $cn")
      assert(math.abs(pe - pn).toDouble / pn <= 0.05, s"$k prev: $pe vs $pn")
      assert(math.abs(ue - un).toDouble / un <= 0.05, s"$k union: $ue vs $un")
      // inclusion–exclusion compounds three estimates: its ABSOLUTE error
      // scales with the union, not the intersection
      assert(math.abs(re - ret).toDouble <= 0.08 * un,
        s"$k retained: $re vs $ret (union $un)")
    }
    // HLL register merge is a commutative monoid: repartitioned recompute
    // lands on identical estimates
    val again = AnalyticsOps.distinctOverlapSketch(ev.repartition(7),
        col("event_type"), col("ts"), col("user_id"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(again == approx, "estimates must be bit-stable under repartitioning")
  }

  test("distinctOverlapTheta equals the exact set algebra below 2^lgK") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/events.parquet").exists(), s"$dir not present")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val dayMs = 86400000L
    // exact twin, reshaped to the theta output's column order
    val exact = AnalyticsOps.distinctOverlap(ev, col("event_type"), col("ts"),
        col("user_id"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(4),
          r.getLong(6), r.getLong(7), r.getDouble(8)))).toMap
    val theta = AnalyticsOps.distinctOverlapTheta(ev, col("event_type"),
        col("ts"), col("user_id"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getDouble(8)))).toMap
    // every testdata audience is < 4096 members, so the sketches never
    // leave exact mode: estimates ARE the true counts, row for row
    assert(theta == exact,
      s"theta-only: ${(theta.toSet -- exact.toSet).take(3)}; " +
        s"exact-only: ${(exact.toSet -- theta.toSet).take(3)}")
    val again = AnalyticsOps.distinctOverlapTheta(ev.repartition(7),
        col("event_type"), col("ts"), col("user_id"), dayMs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getDouble(8)))).toMap
    assert(again == theta, "theta estimates stable under repartitioning")
  }

  test("distinctOverlapTheta in estimation mode (lgK = 4): raw output bits equal the recorded golden") {
    // seeded fixture: 4 keys × 4 consecutive days, each (key, day) audience
    // 20–500 members drawn from an 800-member pool per key, so consecutive
    // days overlap. Odd members are multibyte (the sketch hashes UTF-8
    // bytes); empty and NULL members ride along on some days (both are
    // skipped). Golden recorded at commit 52394f8 (the engine's own theta
    // aggregate) with a placeholder and copied from the failure message.
    val dayMs = 86400000L
    val rng = new scala.util.Random(122)
    val fixture = for (k <- 0 until 4; d <- 0 until 4;
        m <- rng.shuffle((0 until 800).toList).take(20 + rng.nextInt(481))
          .map(i => Some(if (i % 2 == 0) s"u$i" else s"ü$i")) ++
          (if ((k + d) % 3 == 0) Seq(Some(""), None) else Nil))
      yield (s"k$k", dayMs * (d + 1) + rng.nextInt(dayMs.toInt), m)
    val exact = fixture.filter(_._3.exists(_.nonEmpty))
      .groupBy(r => (r._1, r._2 / dayMs * dayMs)).map { case (kd, rs) => kd -> rs.size.toLong }
    assert(exact.values.min > 16,
      s"every audience must exceed lgK = 4's 16 nominal entries: ${exact.values}")
    val ev = fixture.map { case (k, ts, m) => (k, new java.sql.Timestamp(ts), m) }
      .toDF("key", "ts", "member")
    val out = AnalyticsOps.distinctOverlapTheta(ev, col("key"), col("ts"),
      col("member"), dayMs, lgK = 4).collect()
    assert(out.exists(r => r.getLong(2) != exact((r.getString(0), r.getLong(1)))),
      "some estimate must differ from its exact count (estimation mode)")
    val lines = out.map(_.toSeq.map {
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
      case x => String.valueOf(x)
    }.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    val got = (lines.length, md.digest().take(8).map(b => f"$b%02x").mkString)
    assert(got == ((12, "a57b60ff2c048b3a")), s"theta digest moved: got $got")
  }

  test("linearTrend fits exact lines and NULLs degenerate series") {
    // y = 2.5 + 0.25 x: cents are 250 + 25x, every statistic exact
    val line = (0 to 9).map(i => ("line", i.toLong, 2.5 + 0.25 * i))
    val one = Seq(("one", 3L, 7.0))               // n=1: no x variance
    val flat = (0 to 4).map(i => ("flat", i.toLong, 3.0)) // zero y variance
    val ev = (line ++ one ++ flat).toDF("k", "x", "value")
    val out = AnalyticsOps.linearTrend(ev, col("k"), col("x"), col("value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out("line")._1 == 10L)
    assert(out("line")._2.contains(0.25), s"slope: ${out("line")._2}")
    assert(out("line")._3.contains(2.5), s"intercept: ${out("line")._3}")
    assert(out("line")._4.contains(1.0), s"r2: ${out("line")._4}")
    assert(out("one") == ((1L, None, None, None)), "n=1: all NULL")
    assert(out("flat")._2.contains(0.0))
    assert(out("flat")._3.contains(3.0))
    assert(out("flat")._4.isEmpty, "zero y variance: r2 NULL")
    // partitioning invariance: exact integer statistics
    val again = AnalyticsOps.linearTrend(ev.repartition(7), col("k"),
        col("x"), col("value"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(again("line") == out("line")._2)
  }

  test("crossCorrelation peaks at the true lead lag") {
    // b[t] = a[t+2] (b leads a): r(lag) = corr(a[t], b[t+lag]) must be
    // exactly 1 at lag = -2 and below 1 elsewhere
    def f(t: Int): Double = (t * 37 % 11) + 0.5 * (t * 13 % 7)
    val a = (0 to 19).map(t => ("a", t.toLong, f(t)))
    val b = (0 to 19).map(t => ("b", t.toLong, f(t + 2)))
    val ev = (a ++ b).toDF("s", "t", "value")
    val out = AnalyticsOps.crossCorrelation(ev, col("s"), col("t"),
        col("value"), maxLag = 3)
      .collect().map(r => r.getInt(2) -> ((r.getDouble(3), r.getLong(4)))).toMap
    assert(out.keySet == (-3 to 3).toSet)
    assert(math.abs(out(-2)._1 - 1.0) < 1e-12, s"peak at -2: ${out(-2)}")
    assert(out(-2)._2 == 18L, "overlap shrinks by |lag|")
    ((-3 to 3).toSet - -2).foreach { l =>
      assert(out(l)._1 < 0.999, s"off-peak lag $l too correlated: ${out(l)}")
    }
  }

  test("interArrival: periodic series scores B = -1, bursty series positive") {
    val per = Seq(0L, 10000L, 20000L, 30000L).zipWithIndex
      .map { case (ms, i) => ("per", new java.sql.Timestamp(ms), i.toLong, 1.0) }
    // gaps 1 s, 1 s, 58 s
    val bur = Seq(0L, 1000L, 2000L, 60000L).zipWithIndex
      .map { case (ms, i) => ("bur", new java.sql.Timestamp(ms), i.toLong, 1.0) }
    val solo = Seq(("solo", new java.sql.Timestamp(5L), 9L, 1.0))
    val ev = (per ++ bur ++ solo).toDF("k", "ts", "event_id", "value")
    val rows = AnalyticsOps.interArrival(ev, col("k"), col("ts"),
        col("event_id"))
      .select("key", "n_gaps", "mean_gap_ms", "min_gap_ms", "max_gap_ms",
        "cv", "burstiness")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!rows.contains("solo"), "single-point series has no gaps")
    val p = rows("per")
    assert(p.getLong(1) == 3 && p.getDouble(2) == 10000.0)
    assert(p.getDouble(5) == 0.0, "periodic: cv 0")
    assert(p.getDouble(6) == -1.0, "periodic: burstiness -1")
    val b = rows("bur")
    assert(b.getLong(3) == 1000L && b.getLong(4) == 58000L)
    // hand-computed over second-resolution gaps (1, 1, 58)
    val mean = 20.0
    val sd = math.sqrt(((1 - mean) * (1 - mean) * 2
      + (58 - mean) * (58 - mean)) / 2.0)
    assert(math.abs(b.getDouble(5) - sd / mean) < 1e-12)
    assert(math.abs(b.getDouble(6) - (sd - mean) / (sd + mean)) < 1e-12)
    assert(b.getDouble(6) > 0, "bursty series: positive index")
  }

  test("autoCorrelation peaks at the true period") {
    // v[t] has exact period 4: ACF must be exactly 1 at lag 4, lower at
    // lags 1..3; the overlap shrinks by lag
    def f(t: Int): Double = Array(1.0, 5.0, 2.0, 8.0)(t % 4)
    val ev = (0 to 19).map(t => ("s", t.toLong, f(t))).toDF("s", "t", "value")
    val out = AnalyticsOps.autoCorrelation(ev, col("s"), col("t"),
        col("value"), maxLag = 4)
      .collect().map(r => r.getInt(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out.keySet == (1 to 4).toSet)
    assert(math.abs(out(4)._1 - 1.0) < 1e-12, s"period 4: ${out(4)}")
    assert(out(4)._2 == 16L, "overlap shrinks by lag")
    (1 to 3).foreach { l =>
      assert(out(l)._1 < 0.999, s"off-period lag $l too correlated: ${out(l)}")
    }
  }

  test("typeEntropy: uniform, skewed, and single-type distributions") {
    val ev = (Seq.fill(2)("a") ++ Seq.fill(2)("b")).map(("uni", 0L, _)) ++
      (Seq.fill(3)("a") ++ Seq.fill(1)("b")).map(("skew", 0L, _)) ++
      Seq.fill(4)("a").map(("mono", 0L, _))
    val out = AnalyticsOps.typeEntropy(ev.toDF("k", "p", "t"),
        col("k"), col("p"), col("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]), r.getDouble(6)))).toMap
    // expected folds replicate the engine's exact type-ascending op order
    def fold(cs: Seq[Long]): Double = {
      val n = cs.sum.toDouble
      0.0 - cs.foldLeft(0.0)((acc, c) =>
        acc + (c / n) * StrictMath.log(c / n))
    }
    val uni = out("uni")
    assert(uni._1 == 4L && uni._2 == 2L)
    assert(uni._3 == fold(Seq(2L, 2L)))
    assert(uni._4 == Some(fold(Seq(2L, 2L)) / StrictMath.log(2.0)))
    assert(uni._5 == 0.5, "uniform 2-type Simpson: 1 - 8/16")
    val skew = out("skew")
    assert(skew._3 == fold(Seq(3L, 1L)))
    assert(skew._3 < uni._3, "skew is less diverse than uniform")
    assert(skew._5 == 1.0 - 10.0 / 16.0)
    val mono = out("mono")
    assert(mono._3 == 0.0 && !(mono._3.equals(-0.0)),
      "single type: entropy exactly +0.0")
    assert(mono._4.isEmpty, "k = 1: NULL normalized entropy")
    assert(mono._5 == 0.0, "single type: Simpson 0")
  }

  test("rollingQuantileSketch: exact trailing quantiles, observed-day emit") {
    val dayMs = 86400000L
    val ev = Seq(
      ("a", 0L, 1.0), ("a", 0L, 9.0),
      ("a", 1 * dayMs, 5.0),
      ("a", 3 * dayMs, 7.0),      // day 2 has no data: no row emitted
      ("b", 0L, 2.0))
      .map { case (k, ms, v) => (k, new java.sql.Timestamp(ms), v) }
      .toDF("k", "ts", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      AnalyticsOps.rollingQuantileSketch(df, col("k"), col("ts"), col("v"),
          windowDays = 3, k = 8)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
    val out = run(ev)
    assert(out.keySet ==
      Set(("a", 0L), ("a", dayMs), ("a", 3 * dayMs), ("b", 0L)),
      "one row per OBSERVED (key, day) only")
    // exact-regime expectation = quantile_cont, in the engine's op order
    def qc(vals: Seq[Double], q: Double): Double = {
      val s = vals.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val frac = pos - lo
      if (frac == 0) s(lo) else s(lo) + frac * (s(lo + 1) - s(lo))
    }
    def exp(vals: Double*) =
      ((vals.length.toLong, qc(vals, 0.5), qc(vals, 0.95), qc(vals, 0.99)))
    assert(out(("a", 0L)) == exp(1.0, 9.0))
    // a@1d covers days -1..1 -> {1, 5, 9}
    assert(out(("a", dayMs)) == exp(1.0, 9.0, 5.0))
    // a@3d covers days 1..3 -> {5, 7}: day 0 aged out of the window
    assert(out(("a", 3 * dayMs)) == exp(5.0, 7.0))
    assert(out(("b", 0L)) == ((1L, 2.0, 2.0, 2.0)), "n = 1: all quantiles")
    assert(run(ev.repartition(7)) == out,
      "exact regime is partition-order invariant")
  }

  test("revisitSchedule: Cho-GM estimator, static and clamp edges") {
    val h = 3600000L
    val d = 24 * h
    val ev = (
      // "chg": 4 obs a day apart, 1 change -> tau lands inside the clamps
      Seq(10.0, 10.0, 20.0, 20.0).zipWithIndex.map { case (v, i) =>
        ("chg", i * d, i.toLong, v) } ++
      // "static": value never changes -> lambda exactly 0, max cadence
      (0 until 4).map(i => ("static", i * h, i.toLong, 7.0)) ++
      // "fast": every second a change -> tau below the min clamp
      Seq(1.0, 2.0, 3.0).zipWithIndex.map { case (v, i) =>
        ("fast", i * 1000L, i.toLong, v) } ++
      Seq(("solo", 0L, 9L, 1.0))
    ).map { case (u, ms, id, v) => (u, new java.sql.Timestamp(ms), id, v) }
      .toDF("u", "ts", "event_id", "value")
    val out = AnalyticsOps.revisitSchedule(ev, col("u"), col("ts"),
        col("event_id"), col("value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(!out.contains("solo"), "n = 1 cannot estimate a rate")
    val chg = out("chg")
    assert(chg._1 == 4L && chg._2 == 1L && chg._3 == d.toDouble)
    // lambda*interval = -ln((4-1+0.5)/4.5), in the engine's op order
    val lamMs = (0.0 - StrictMath.log(3.5 / 4.5)) / d.toDouble
    assert(chg._4 == lamMs * 86400000.0)
    assert(chg._5 == (0.0 - StrictMath.log(0.95)) / lamMs / 3600000.0,
      "in-range tau is unclamped")
    val st = out("static")
    assert(st._2 == 0L && st._4 == 0.0 && st._5 == 720.0,
      "never-changing page: lambda exactly 0, max cadence")
    assert(out("fast")._5 == 1.0, "sub-minimum tau clamps to minHours")
  }

  test("trimmedMean drops exact tail ranks; winsorized clamps them") {
    val vals = Seq(0.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 20.0, 100.0)
    val ev = (vals.zipWithIndex.map { case (v, i) => ("k", 1L, i.toLong, v) } ++
      Seq(("one", 1L, 99L, 5.0)))
      .toDF("u", "p", "event_id", "value")
    val out = AnalyticsOps.trimmedMean(ev, col("u"), col("p"), col("value"),
        col("event_id"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // n=10, t=1: kept = {2..8, 20}: sum 5500 cents over 8
    assert(out("k") == ((10L, 1L, 5500.0 / 800.0, (5500.0 + 2200.0) / 1000.0)))
    assert(out("one") == ((1L, 0L, 5.0, 5.0)), "t = 0: both are the mean")
  }

  test("concentration: Gini/HHI/top-share on hand distributions") {
    val ev = (Seq.fill(1)("a") ++ Seq.fill(1)("b") ++ Seq.fill(2)("c"))
      .map(("skew", _)) ++
      (Seq.fill(2)("a") ++ Seq.fill(2)("b")).map(("equal", _)) ++
      Seq.fill(3)("a").map(("mono", _))
    val out = AnalyticsOps.concentration(ev.toDF("p", "u"),
        col("p"), col("u"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // skew {1,1,2}: gnum = -2 + 0 + 4 = 2 -> G = 2/12; HHI = 6/16
    assert(out("skew") == ((3L, 4L, 2.0 / 12.0, 6.0 / 16.0, 0.5)))
    assert(out("equal")._3 == 0.0, "perfect equality: Gini exactly 0")
    assert(out("equal")._4 == 0.5 && out("equal")._5 == 0.5)
    assert(out("mono") == ((1L, 3L, 0.0, 1.0, 1.0)),
      "single unit: Gini 0, HHI 1, full share")
  }

  test("rateLimitAudit replays the token bucket exactly, chunking-invariant") {
    // rate 1 token/s, burst 2: hand-walked nano states
    val ev = Seq(
      ("a", 0L, 1L),      // s = 1.0 (full bucket, consume 1)
      ("a", 500L, 2L),    // refill .5 -> s = 1.5
      ("a", 1000L, 3L),   // refill .5 -> s = 2.0 (== burst: NOT a violation)
      ("a", 1200L, 4L),   // refill .2 -> s = 2.8 > 2: VIOLATION
      ("a", 10000L, 5L),  // long idle clamps to full -> s = 1.0
      ("b", 600L, 6L)     // keys are independent
    ).map { case (u, ms, id) => (u, new java.sql.Timestamp(ms), id) }
      .toDF("u", "ts", "event_id")
    def run(bucketMs: Long, anchor: Long) =
      AnalyticsOps.rateLimitAudit(ev, col("u"), col("ts"), col("event_id"),
          ratePerSec = 1.0, burst = 2.0, bucketMs = bucketMs,
          anchorMs = anchor)
        .collect().map(r => r.getLong(2) ->
          ((r.getDouble(3), r.getBoolean(4)))).toMap
    val out = run(86400000L, 0L)
    def t(nano: Long) = nano.toDouble / 1.0e9
    assert(out(1L) == ((t(1000000000L), false)))
    assert(out(2L) == ((t(1500000000L), false)))
    assert(out(3L) == ((t(2000000000L), false)), "at-capacity is conformant")
    assert(out(4L) == ((t(2800000000L), true)), "burst exceeded flags")
    assert(out(5L) == ((t(1000000000L), false)), "idle refills clamp at full")
    assert(out(6L) == ((t(1000000000L), false)))
    // the scan is exact: any chunking and any anchor give identical bits
    assert(run(400L, 0L) == out, "chunk-size invariance")
    assert(run(86400000L, -7200000L) == out, "anchor invariance")
  }

  test("rateLimitAudit fails loudly on nano-ledger overflow instead of corrupting") {
    // real epoch-ms timestamps with the default anchorMs=0: at rate 100/s
    // the nano-token product r·(ts−anchor) exceeds Long.MaxValue/4, which
    // previously corrupted burst_used/violation SILENTLY. The guard must
    // throw with the fix (pass anchorMs near min(ts)) in the message.
    val epochMs = 1700000000000L // 2023-11-14, a realistic event time
    val ev = Seq(("a", new java.sql.Timestamp(epochMs), 1L),
        ("a", new java.sql.Timestamp(epochMs + 500L), 2L))
      .toDF("u", "ts", "event_id")
    val ex = intercept[Exception] {
      AnalyticsOps.rateLimitAudit(ev, col("u"), col("ts"), col("event_id"),
          ratePerSec = 100.0, burst = 2.0, bucketMs = 86400000L)
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => t.getMessage != null &&
        t.getMessage.contains("rateLimitAudit") &&
        t.getMessage.contains("anchorMs")),
      s"expected the loud overflow guard, got: $ex")
    // and the documented fix works: the same data with an anchor near
    // min(ts) audits cleanly (event 2 arrives 0.5 s after a full bucket:
    // usage 1 + refill keeps it conformant at rate 100/s)
    val ok = AnalyticsOps.rateLimitAudit(ev, col("u"), col("ts"),
        col("event_id"), ratePerSec = 100.0, burst = 2.0,
        bucketMs = 86400000L, anchorMs = epochMs)
      .collect().map(r => r.getLong(2) -> r.getBoolean(4)).toMap
    assert(ok == Map(1L -> false, 2L -> false))
  }

  test("newKeysGate equals the plain anti-join regardless of Bloom fpp") {
    // keys 1..40 in the prior window; 21..60 in the current → new = 41..60
    val rows = (1L to 40L).map(k => (k, 10L)) ++
      (21L to 60L).flatMap(k => Seq((k, 100L), (k, 120L)))
    val ev = rows.map { case (k, ms) => (k, new java.sql.Timestamp(ms)) }
      .toDF("key_id", "ts")
    // a 1%-and-a-99%-ish fpp must give the SAME answer: the Bloom only
    // routes rows between the direct path and the verify join
    for (fpp <- Seq(0.01, 0.5)) {
      val out = AnalyticsOps.newKeysGate(ev, col("key_id"), col("ts"),
          splitMs = 50L, expectedItems = 64L, fpp = fpp)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(out.keySet == (41L to 60L).toSet, s"fpp=$fpp got ${out.keySet}")
      assert(out(41L) == ((2L, 100L)), "count + first-seen ms")
    }
  }

  test("newKeysGate short-circuits an empty prior window: everything new") {
    val ev = Seq((7L, 100L), (7L, 110L), (8L, 120L))
      .map { case (k, ms) => (k, new java.sql.Timestamp(ms)) }
      .toDF("key_id", "ts")
    val out = AnalyticsOps.newKeysGate(ev, col("key_id"), col("ts"),
        splitMs = 50L, expectedItems = 8L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(7L -> 2L, 8L -> 1L))
  }

  test("newKeysGate boundary: ts == split belongs to the current window") {
    val ev = Seq((1L, 49L), (2L, 50L))
      .map { case (k, ms) => (k, new java.sql.Timestamp(ms)) }
      .toDF("key_id", "ts")
    val out = AnalyticsOps.newKeysGate(ev, col("key_id"), col("ts"),
        splitMs = 50L, expectedItems = 8L)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L), "key 1 is prior-only; key 2 is current and new")
  }

  test("trailingActives equals brute-force trailing distinct, incl. zeros") {
    val dayMs = 86400000L
    // deterministic LCG activity: 5 users over a 20-day span with a 9-day
    // dead zone (days 6-14 have no activity) — longer than the 7-day
    // window, so some trailing counts must be EXACTLY zero
    var s = 42L
    def lcg(): Long = { s = (s * 1103515245L + 12345L) & 0x7fffffffL; s }
    val pairs = (for (_ <- 1 to 60) yield {
      val u = lcg() % 5
      val d = lcg() % 11
      (u, if (d < 6) d else d + 9) // days {0..5} U {15..19}
    }).distinct
    val ev = pairs.map { case (u, d) =>
      (u, new java.sql.Timestamp(d * dayMs + (u + 1) * 3600000L))
    }.toDF("user_id", "ts")
    val n = 7
    val out = AnalyticsOps.trailingActives(ev, col("user_id"), col("ts"), n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (lo, hi) = (pairs.map(_._2).min, pairs.map(_._2).max)
    val expected = (lo to hi).map { w =>
      w * dayMs ->
        pairs.filter { case (_, d) => d <= w && d > w - n }.map(_._1)
          .distinct.size.toLong
    }.toMap
    assert(out == expected, s"got $out\nexpected $expected")
    assert(expected.valuesIterator.contains(0L),
      "the dead zone must actually exercise the zero-count days")
  }

  test("seasonalityStrength: eta^2 1 for pure profiles, 0 flat, NULL no-var") {
    val hourMs = 3600000L
    val weekMs = 168L * hourMs
    val ev = Seq(
      // k1: value depends ONLY on hour-of-week (h0 -> 1.00 across two
      // weeks, h1 -> 3.00) => within-group variance 0 => eta^2 = 1
      ("k1", 0L * hourMs, 1.00), ("k1", weekMs, 1.00),
      ("k1", 1L * hourMs, 3.00), ("k1", weekMs + hourMs, 3.00),
      // k2: all variance INSIDE one hour-of-week group => eta^2 = 0
      ("k2", 2L * hourMs, 1.00), ("k2", 2L * hourMs + 60000L, 3.00),
      // k3: constant => SS_total = 0 => NULL
      ("k3", 3L * hourMs, 2.00), ("k3", 4L * hourMs, 2.00)
    ).map { case (k, ms, v) => (k, new java.sql.Timestamp(ms), v) }
      .toDF("key_id", "ts", "value")
    val out = AnalyticsOps.seasonalityStrength(ev, col("key_id"), col("ts"),
        col("value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(out("k1") == ((4L, 2L, 40000.0, 40000.0, Some(1.0))),
      s"k1 got ${out("k1")}")
    assert(out("k2") == ((2L, 1L, 20000.0, 0.0, Some(0.0))),
      s"k2 got ${out("k2")}")
    assert(out("k3")._5.isEmpty && out("k3")._3 == 0.0,
      s"k3 got ${out("k3")}")
  }

  test("churnSurvival: product-limit curve with censoring at the edge") {
    val dayMs = 86400000L
    // k1 dies at t=1, k4 at t=0, k2 at t=9; k3 survives to the edge
    // (censored at t=15) — churnDays=3, max day = 20
    val ev = Seq(
      ("k1", 1L), ("k1", 2L),
      ("k2", 1L), ("k2", 10L),
      ("k3", 5L), ("k3", 20L),
      ("k4", 2L)
    ).map { case (k, d) => (k, new java.sql.Timestamp(d * dayMs)) }
      .toDF("key_id", "ts")
    val out = AnalyticsOps.churnSurvival(ev, col("key_id"), col("ts"),
        churnDays = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // risk sets: t0: 4 alive -> S=3/4; t1: 3 -> S=1/2; t9: 2 -> S=1/4;
    // the censor at t15 emits no row but held the t9 risk set at 2
    assert(out.keySet == Set(0L, 1L, 9L), s"death times: ${out.keySet}")
    assert(out(0L)._1 == 4L && out(0L)._2 == 1L &&
      math.abs(out(0L)._3 - 0.75) < 1e-12, s"t0 got ${out(0L)}")
    assert(out(1L)._1 == 3L && math.abs(out(1L)._3 - 0.5) < 1e-12,
      s"t1 got ${out(1L)}")
    assert(out(9L)._1 == 2L && math.abs(out(9L)._3 - 0.25) < 1e-12,
      s"t9 got ${out(9L)}")
  }

  test("rboDrift: identical lists hit 1-p^k, swaps decay, disjoint is 0") {
    val dayMs = 86400000L
    // day1/day2: identical ranked lists (a>b>c); day3: a and b swapped;
    // day4: disjoint items (x>y>z) — counts pick the order
    def mk(d: Long, items: Seq[(String, Int)]) = items.flatMap {
      case (it, n) => Seq.fill(n)((it, new java.sql.Timestamp(d * dayMs)))
    }
    val ev = (mk(1, Seq("a" -> 3, "b" -> 2, "c" -> 1)) ++
        mk(2, Seq("a" -> 3, "b" -> 2, "c" -> 1)) ++
        mk(3, Seq("b" -> 3, "a" -> 2, "c" -> 1)) ++
        mk(4, Seq("x" -> 3, "y" -> 2, "z" -> 1)))
      .toDF("item", "ts")
    val out = AnalyticsOps.rboDrift(ev, col("item"),
        unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
        dayMs, k = 3, p = 0.5)
      .collect().map(r => r.getLong(0) / dayMs ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(2L)._1 == 3L)
    assert(math.abs(out(2L)._2 - 0.875) < 1e-12,
      s"identical lists: RBO = 1 - p^k, got ${out(2L)}")
    // swap of ranks 1/2: matched weights w(2)+w(2)+w(3) = 0.75 -> 0.375
    assert(out(3L)._1 == 3L && math.abs(out(3L)._2 - 0.375) < 1e-12,
      s"day3 got ${out(3L)}")
    assert(out(4L) == ((0L, 0.0)), "disjoint lists score exactly 0")
    assert(!out.contains(1L), "first day has no predecessor")
  }

  test("emdKsDrift: distance-aware drift, absent bins covered by gaps") {
    val dayMs = 86400000L
    // day1: 4 events in bin 0; day2: 4 events in bin 2 (a clean 2-bin
    // shift); day3: 1 in bin 0 + 1 in bin 1 against day2's bin-2 mass
    val ev = (Seq.fill(4)((1L, 10.0)) ++ Seq.fill(4)((2L, 60.0)) ++
        Seq((3L, 10.0), (3L, 30.0)))
      .map { case (d, v) => ("k", new java.sql.Timestamp(d * dayMs), v) }
      .toDF("event_type", "ts", "value")
    val out = AnalyticsOps.emdKsDrift(ev, col("event_type"),
        unix_millis(date_trunc("day", col("ts")).cast("timestamp")),
        dayMs, col("value"), binWidth = 25.0)
      .collect().map(r => r.getLong(1) / dayMs ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    // day2: all mass moved exactly 2 bins -> EMD = 2 * 25; disjoint
    // supports -> KS = 1. The empty bin 1 between them is covered by the
    // lead-gap product, not a materialized row.
    assert(out(2L) == ((4L, 4L, 50.0, 1.0)), s"day2 got ${out(2L)}")
    // day3 vs day2: cum d at bins 0,1,2 = 4,8,0 over n*m=8 -> 25*12/8
    assert(out(3L) == ((2L, 4L, 37.5, 1.0)), s"day3 got ${out(3L)}")
    assert(!out.contains(1L), "first day has no predecessor")
  }

  test("rollingCorrelation: exact r over present hours, NULL on no variance") {
    val hourMs = 3600000L
    // hours 0-3: A/B cents sums (100,200) (200,400) (300,600) (400,100);
    // hour 4 empty; hour 5: (100,200) — the RANGE frame must skip hour 4
    val ev = Seq(
      (0L, "view", 1.00), (0L, "purchase", 2.00),
      (1L, "view", 2.00), (1L, "purchase", 4.00),
      (2L, "view", 1.00), (2L, "view", 2.00), (2L, "purchase", 6.00),
      (3L, "view", 4.00), (3L, "purchase", 1.00),
      (5L, "view", 1.00), (5L, "purchase", 2.00),
      (1L, "error", 99.0) // other types must not leak into the cells
    ).map { case (h, t, v) => (new java.sql.Timestamp(h * hourMs), t, v) }
      .toDF("ts", "event_type", "value")
    val out = AnalyticsOps.rollingCorrelation(ev, col("event_type"),
        col("ts"), col("value"), "view", "purchase", windowBuckets = 2)
      .collect().map(r => r.getLong(0) / hourMs ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(0L) == ((1L, None)), "single-bucket window has no variance")
    assert(out(1L) == ((2L, Some(1.0))), "perfectly correlated pair")
    assert(out(2L) == ((2L, Some(1.0))), "dup-type rows sum into the cell")
    assert(out(3L) == ((2L, Some(-1.0))), "perfectly anti-correlated pair")
    assert(out(5L) == ((1L, None)),
      "RANGE frame skips the empty hour: window holds ONE present bucket")
    assert(!out.contains(4L), "empty hours emit no row")
  }
}
