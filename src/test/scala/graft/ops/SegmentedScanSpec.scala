package graft.ops

import graft.pipeline.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Raw-bit pins of the five chunked recurrences — [[AnalyticsOps.ewma]],
  * [[AnalyticsOps.holt]], [[AnalyticsOps.holtWinters]],
  * [[AnalyticsOps.cusum]] and [[AnalyticsOps.rateLimitAudit]] — over one
  * seeded, multi-key, multi-chunk event table. Every output column takes
  * part: doubles as `doubleToRawLongBits`, longs, booleans and the key.
  *
  * The fixture (checked by the first test) has duplicate timestamps broken
  * by a shuffled tie, single-row chunks, dozens of 5 s chunks per key, a
  * one-row key and a nine-row key; the cases cover damped Holt (φ < 1),
  * Holt-Winters with a period longer than any chunk, CUSUM resets and
  * alarms, and rate-limit violations.
  *
  * Goldens: each digest was recorded from the per-op segmented scans of
  * commit 32e8a64 (before the five ops shared one scan driver) by running
  * this spec with a placeholder digest and copying the computed value from
  * the failure message, which prints it. A digest that moves means some
  * output bit moved: the smoother oracles (q46/q49/q50/q72/q89) are exact
  * FP mirrors and would go hash-red with it. */
class SegmentedScanSpec extends SparkTestBase {
  import SegmentedScanSpec._

  private lazy val events: DataFrame = {
    import spark.implicits._
    fixture.map { case (k, ts, tie, v) => (k, new java.sql.Timestamp(ts), tie, v) }
      .toDF("user_id", "ts", "event_id", "value")
  }

  private def digest(out: DataFrame): (Long, String) = {
    val rows = out.withColumn("ts", unix_millis(col("ts"))).collect().map { r =>
      r.toSeq.map {
        case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
        case x => String.valueOf(x)
      }.mkString("|")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  private def pin(name: String, rows: Long, hex: String)(out: => DataFrame): Unit =
    test(s"$name: raw output bits equal the recorded golden") {
      val got = digest(out)
      assert(got == ((rows, hex)), s"$name digest moved: got $got")
    }

  private val key = col("user_id")
  private val ts = col("ts")
  private val tie = col("event_id")
  private val value = col("value")

  test("fixture: dup ts, single-row chunks, dozens of chunks per key, short keys") {
    val chunks = fixture.groupBy(r => (r._1, r._2 / BucketMs)).map { case (kb, rs) => kb -> rs.size }
    val perKey = chunks.keys.groupBy(_._1).map { case (k, cs) => k -> cs.size }
    assert(perKey("a") >= 24 && perKey("b") >= 24, s"chunks per key: $perKey")
    assert(perKey("c") <= 3 && fixture.count(_._1 == "d") == 1)
    assert(chunks.values.count(_ == 1) >= 10, "single-row chunks")
    assert(chunks.values.max < 24, "Holt-Winters' period 24 must exceed every chunk")
    val dupTs = fixture.groupBy(r => (r._1, r._2)).count(_._2.size > 1)
    assert(dupTs >= 10, s"duplicate (key, ts) groups: $dupTs")
    val ties = fixture.map(_._3)
    assert(ties.distinct.size == ties.size && ties != ties.sorted, "ties unique, not in ts order")
  }

  test("fixture: CUSUM resets and alarms, rate-limit violations") {
    val cu = AnalyticsOps.cusum(events, key, ts, tie, value, k = 10.0, h = 25.0,
      bucketMs = BucketMs)
      .filter(col("key") === "a").orderBy("ts", "tie")
      .select("cusum", "alarm").collect().map(r => (r.getDouble(0), r.getBoolean(1)))
    assert(cu.count(_._2) >= 5, "CUSUM alarms")
    assert(cu.sliding(2).count { case Array(p, q) => p._1 > 0 && q._1 == 0.0 } >= 3,
      "CUSUM resets to 0 after drifting")
    val rl = AnalyticsOps.rateLimitAudit(events, key, ts, tie, ratePerSec = 0.5,
        burst = 3.0, bucketMs = BucketMs).select("violation").collect().map(_.getBoolean(0))
    assert(rl.count(identity) >= 10 && rl.count(!_) >= 10, "violations and conformant rows")
  }

  pin("ewma alpha=0.3", 730L, "b680558f84547dac") {
    AnalyticsOps.ewma(events, key, ts, tie, value, alpha = 0.3, bucketMs = BucketMs)
  }

  pin("holt classic", 730L, "8125f0f765ad3dbb") {
    AnalyticsOps.holt(events, key, ts, tie, value, alpha = 0.3, betaT = 0.1, bucketMs = BucketMs)
  }

  pin("holt damped phi=0.85", 730L, "e930db535181a99b") {
    AnalyticsOps.holt(events, key, ts, tie, value, alpha = 0.4, betaT = 0.2,
      bucketMs = BucketMs, phi = 0.85)
  }

  pin("holtWinters period=24", 730L, "29eaddd5a7616632") {
    AnalyticsOps.holtWinters(events, key, ts, tie, value, alpha = 0.3, betaT = 0.1,
      gamma = 0.2, period = 24, bucketMs = BucketMs)
  }

  pin("holtWinters period=5", 730L, "7980a918aa79a105") {
    AnalyticsOps.holtWinters(events, key, ts, tie, value, alpha = 0.5, betaT = 0.3,
      gamma = 0.4, period = 5, bucketMs = BucketMs)
  }

  pin("cusum k=10 h=25", 730L, "0cb9834e6e951611") {
    AnalyticsOps.cusum(events, key, ts, tie, value, k = 10.0, h = 25.0, bucketMs = BucketMs)
  }

  pin("rateLimitAudit 0.5/s burst 3", 730L, "b9837d7c6a313886") {
    AnalyticsOps.rateLimitAudit(events, key, ts, tie, ratePerSec = 0.5, burst = 3.0,
      bucketMs = BucketMs)
  }

  pin("rateLimitAudit 2/s burst 2, anchored", 730L, "b88e5283cec6eb3f") {
    AnalyticsOps.rateLimitAudit(events, key, ts, tie, ratePerSec = 2.0, burst = 2.0,
      bucketMs = BucketMs, anchorMs = 3600000L)
  }
}

object SegmentedScanSpec {
  val BucketMs = 5000L

  /** (key, ts ms, tie, value) rows from an integer LCG, in shuffled order.
    * Gaps: 18 % zero (duplicate ts), 74 % up to 1.5 s, 8 % 6–20 s (empty
    * buckets and single-row chunks). Values alternate between a low
    * (mean 8) and a high (mean 13) regime every 60 rows, at two decimals. */
  val fixture: Seq[(String, Long, Long, Double)] = {
    var s = 2357L
    def next(n: Int): Int = { s = (s * 1103515245L + 12345L) & 0x7fffffffL; (s % n).toInt }
    val sizes = Seq("a" -> 420, "b" -> 300, "c" -> 9, "d" -> 1)
    val rows = sizes.flatMap { case (key, n) =>
      var ts = 3600000L + next(1000)
      (0 until n).map { i =>
        val g = next(100)
        ts += (if (g < 18) 0 else if (g < 92) 1 + next(1500) else 6000 + next(14000))
        val base = if ((i / 60) % 2 == 0) 800 else 1300
        (key, ts, (base + next(801) - 400) / 100.0)
      }
    }.toArray
    // shuffled unique ties, then a shuffled row order (Fisher-Yates)
    val ties = Array.tabulate(rows.length)(_.toLong)
    for (i <- ties.indices.reverse) {
      val j = next(i + 1); val t = ties(i); ties(i) = ties(j); ties(j) = t
    }
    val out = rows.indices.map(i => (rows(i)._1, rows(i)._2, ties(i), rows(i)._3)).toArray
    for (i <- out.indices.reverse) {
      val j = next(i + 1); val t = out(i); out(i) = out(j); out(j) = t
    }
    out.toSeq
  }
}
