package graft.plans

import graft.pipeline.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The continuous-aggregate rewrite must (a) serve hour-aligned aggregates
  * from the stored rollup with IDENTICAL results and preserved schema,
  * (b) survive a multi-partial store (re-aggregates, never assumes one row
  * per bucket), and (c) leave anything it can't prove rewritable alone.
  * Positive cases go through [[RollupRewrite.servedFrom]] /
  * [[RollupRewrite.servedFromTiers]]; negative cases apply the rule to the
  * query's optimized plan and require it back unchanged. */
class RollupRewriteSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def available = new java.io.File(s"$dir/events.parquet").exists()
  private def events = spark.read.parquet(s"$dir/events.parquet")

  /** The rule over `tiers` leaves `q`'s optimized plan as it is. */
  private def untouched(tiers: Map[String, DataFrame], q: DataFrame): Boolean = {
    val rule = new RollupRewriteRule("events.parquet",
      tiers.map { case (t, df) => t -> df.queryExecution.analyzed })
    val plan = q.queryExecution.optimizedPlan
    rule(plan) eq plan
  }

  test("hour-aligned aggregates over raw events are served from the rollup") {
    assume(available, s"$dir not present")
    val raw = events
    def hourAgg(df: DataFrame) = df
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).as("vsum"))
    val expected = hourAgg(raw).collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getLong(2), r.getDecimal(3)))).toMap

    // stored rollup with DELIBERATE partial rows: two half-stores unioned,
    // so a naive "one row per bucket" projection would be wrong
    val half1 = hourAgg(raw.filter(col("event_id") % 2 === 0))
    val half2 = hourAgg(raw.filter(col("event_id") % 2 =!= 0))
    half1.union(half2)
      .withColumnRenamed("bucket", "bucket_start")
      .write.mode("overwrite").parquet("/tmp/graft_rw_rollup_1h")
    val stored = spark.read.parquet("/tmp/graft_rw_rollup_1h")

    val q = RollupRewrite.servedFrom(spark, "events.parquet", stored, hourAgg(events))
    // logical Relation nodes don't print paths — assert on the physical
    // FileScan, which carries Location
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rw_rollup_1h"),
      s"rewrite must target the stored rollup:\n$plan")
    assert(!plan.contains("events.parquet"),
      "the raw relation must be gone from the rewritten plan")
    val got = q.collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getLong(2), r.getDecimal(3)))).toMap
    assert(got == expected, "rewritten results must be EXACTLY the raw aggregation")
    assert(q.schema == hourAgg(raw).schema ||
      q.schema.map(f => (f.name, f.dataType)) ==
        hourAgg(raw).schema.map(f => (f.name, f.dataType)),
      "column names and types preserved")

    // negative cases: not hour-aligned / extra aggregate -> untouched
    val hour = Map("hour" -> stored)
    val qMin = events
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    assert(untouched(hour, qMin), "minute-aligned grouping must not be rewritten")
    val qMax = events
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(max("value").as("mx"))
    assert(untouched(hour, qMax),
      "max() must not be rewritten against a store WITHOUT vmin/vmax")
    // guard holes pinned: a SHIFTED truncation is a different bucketing,
    // a different-SCALE decimal cast rounds per row before summing, and
    // count(NULL) is always zero — none are derivable from the store
    val qShift = events
      .groupBy(col("user_id"),
        date_trunc("hour", col("ts") + expr("INTERVAL 30 MINUTES")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    assert(untouched(hour, qShift),
      "date_trunc of a SHIFTED ts must not be served from bucket_start")
    val qScale = events
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(sum(col("value").cast("decimal(12,0)")).as("s0"))
    assert(untouched(hour, qScale),
      "a scale-0 cast rounds per row; not recoverable from scale-2 vsum")
    val qCntNull = events
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(null)).as("cn"))
    assert(untouched(hour, qCntNull), "count(NULL) is 0, not the row count")
  }

  test("a store carrying vmin/vmax serves min/max too, exactly") {
    assume(available, s"$dir not present")
    val raw = events
    raw.groupBy(col("user_id"),
        date_trunc("hour", col("ts")).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).as("vsum"),
        min("value").as("vmin"), max("value").as("vmax"))
      .write.mode("overwrite").parquet("/tmp/graft_rw_rollup_mm")
    val stored = spark.read.parquet("/tmp/graft_rw_rollup_mm")
    def extAgg(df: DataFrame) = df
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(min("value").as("lo"), max("value").as("hi"),
        count(lit(1)).as("cnt"))
    val expected = extAgg(raw).collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    val q = RollupRewrite.servedFrom(spark, "events.parquet", stored, extAgg(events))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rw_rollup_mm"), s"min/max must rewrite:\n$plan")
    val got = q.collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got == expected)
  }

  test("minute and day tiers are served from their own stores; unregistered tiers are not") {
    assume(available, s"$dir not present")
    val raw = events
    def tierAgg(df: DataFrame, t: String) = df
      .groupBy(col("user_id"), date_trunc(t, col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).as("vsum"))
    def store(t: String, path: String) = {
      tierAgg(raw, t).withColumnRenamed("bucket", "bucket_start")
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    val mStore = store("minute", "/tmp/graft_rw_tier_1m")
    val dStore = store("day", "/tmp/graft_rw_tier_1d")
    val expectedM = tierAgg(raw, "minute").collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getLong(2), r.getDecimal(3)))).toMap
    val expectedD = tierAgg(raw, "day").collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getLong(2), r.getDecimal(3)))).toMap
    val tiers = Map("minute" -> mStore, "day" -> dStore)
    val qM = RollupRewrite.servedFromTiers(spark, "events.parquet", tiers,
      tierAgg(events, "minute"))
    val pM = qM.queryExecution.executedPlan.toString
    assert(pM.contains("graft_rw_tier_1m") && !pM.contains("events.parquet"),
      s"minute tier must serve from the 1m store:\n$pM")
    assert(qM.collect().map(r => (r.getLong(0), r.get(1).toString) ->
      ((r.getLong(2), r.getDecimal(3)))).toMap == expectedM)
    val qD = RollupRewrite.servedFromTiers(spark, "events.parquet", tiers,
      tierAgg(events, "day"))
    val pD = qD.queryExecution.executedPlan.toString
    assert(pD.contains("graft_rw_tier_1d") && !pD.contains("events.parquet"),
      s"day tier must serve from the 1d store:\n$pD")
    assert(qD.collect().map(r => (r.getLong(0), r.get(1).toString) ->
      ((r.getLong(2), r.getDecimal(3)))).toMap == expectedD)
    // hour tier is NOT registered here — an hour-aligned aggregate
    // must keep reading raw, never be approximated from another tier
    assert(untouched(tiers, tierAgg(events, "hour")),
      "an unregistered tier must be left on the raw scan")
  }

  test("a user_id-only WHERE is pushed onto the store; value/ts predicates are not") {
    assume(available, s"$dir not present")
    val raw = events
    def hourAgg(df: DataFrame) = df
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).as("vsum"))
    val expected = hourAgg(raw.filter(col("user_id") % 7 === 0)).collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getLong(2), r.getDecimal(3)))).toMap
    hourAgg(raw).withColumnRenamed("bucket", "bucket_start")
      .write.mode("overwrite").parquet("/tmp/graft_rw_rollup_flt")
    val stored = spark.read.parquet("/tmp/graft_rw_rollup_flt")
    val q = RollupRewrite.servedFrom(spark, "events.parquet", stored,
      hourAgg(events.filter(col("user_id") % 7 === 0)))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rw_rollup_flt") && !plan.contains("events.parquet"),
      s"grouping-key filter must rewrite AND move onto the store:\n$plan")
    val got = q.collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getLong(2), r.getDecimal(3)))).toMap
    assert(got == expected,
      "filtered rewrite must equal the filtered raw aggregation exactly")
    // negative: a predicate on a rolled-away column can NOT be served
    val hour = Map("hour" -> stored)
    assert(untouched(hour, hourAgg(events.filter(col("value") > 50.0))),
      "a value-column predicate must keep the raw scan")
    assert(untouched(hour, hourAgg(events
        .filter(col("ts") > java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))),
      "a ts predicate must keep the raw scan (not provably bucket-aligned)")
  }

  test("avg is served from the rollup bit-identically (decimal Average mirror)") {
    assume(available, s"$dir not present")
    val raw = events
    def avgAgg(df: DataFrame) = df
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(avg(col("value").cast("decimal(12,2)")).as("avg_v"),
        count(lit(1)).as("cnt"))
    // raw truth — compare the DECIMAL(16,6) values themselves, so any
    // divergence in the rebuilt division/rounding chain fails loudly
    // instead of hiding under a double tolerance
    val expected = avgAgg(raw).collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getDecimal(2), r.getLong(3)))).toMap
    def hourStore(df: DataFrame) = df
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).as("vsum"))
    // multi-partial store: avg must re-derive from summed partials
    hourStore(raw.filter(col("event_id") % 2 === 0))
      .union(hourStore(raw.filter(col("event_id") % 2 =!= 0)))
      .write.mode("overwrite").parquet("/tmp/graft_rw_rollup_avg")
    val stored = spark.read.parquet("/tmp/graft_rw_rollup_avg")
    val q = RollupRewrite.servedFrom(spark, "events.parquet", stored, avgAgg(events))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rw_rollup_avg"), s"avg must rewrite:\n$plan")
    assert(!plan.contains("events.parquet"),
      "the raw relation must be gone from the rewritten plan")
    assert(q.schema.map(f => (f.name, f.dataType)) ==
      avgAgg(raw).schema.map(f => (f.name, f.dataType)),
      "avg result type must be preserved (decimal(16,6))")
    val got = q.collect()
      .map(r => (r.getLong(0), r.get(1).toString) ->
        ((r.getDecimal(2), r.getLong(3)))).toMap
    assert(got == expected, "rewritten avg must equal the raw Average EXACTLY")
    // a plain DOUBLE avg reassociates; it must NOT be rewritten
    val qDouble = events
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(avg(col("value")).as("m"))
    assert(untouched(Map("hour" -> stored), qDouble),
      "avg over the raw double column is not exactly derivable")
  }
}
