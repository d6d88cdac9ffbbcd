package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Behavioral event analytics: ordered-funnel completion and cohort
  * retention — the two queries every event warehouse answers daily, shaped
  * so no operator ever buffers a user's history.
  *
  * Both produce integer/timestamp outputs from min/count aggregates only,
  * so results are EXACT (no floating-point) and identical to any
  * conforming SQL engine at any parallelism. */
object FunnelOps {

  /** Ordered funnel: for each user, the earliest time each step was
    * reached, where step k must occur STRICTLY AFTER the user's step-(k−1)
    * completion time (the classic "A then B then C" product funnel).
    * Returns one row per user who completed step 1, with nullable
    * `ts_1..ts_k` completion times and `depth` = number of steps reached.
    *
    * Scale shape: one partial+final hash aggregate PER STEP over the
    * events filtered to that step's type (map-side `event_type` filter —
    * at 100 TB each pass moves only that step's events, keyed by user),
    * joined left-to-right on the user key. State per group is one
    * timestamp; no window sorts, no per-user buffering. Catalyst reuses
    * one user-keyed partitioning across the join chain, and AQE broadcasts
    * the shrinking funnel side (each step's survivors are a subset of the
    * previous step's). Steps are a small constant (2–8), so the chain
    * length is fixed, not data-dependent. */
  def funnel(
      events: DataFrame,
      userCol: Column,
      tsCol: Column,
      typeCol: Column,
      steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val base = events.select(userCol.as("user"), tsCol.as("ts"),
      typeCol.as("etype"))
    // user-count-sized; each step's survivor join and outer left join share it
    val first = Adaptive.materialize(base.filter(col("etype") === steps.head)
      .groupBy("user").agg(min(col("ts")).as("ts_1")))
    val completed = steps.zipWithIndex.tail.foldLeft(first) {
      case (acc, (step, i)) =>
        val prevTs = s"ts_$i"
        val stepTs = s"ts_${i + 1}"
        val next = base.filter(col("etype") === step)
          .join(acc.select(col("user"), col(prevTs)), Seq("user"))
          .filter(col("ts") > col(prevTs))
          .groupBy("user").agg(min(col("ts")).as(stepTs))
        Adaptive.materialize(acc.join(next.select("user", stepTs), Seq("user"), "left"))
    }
    val depth = steps.indices.tail.foldLeft(lit(1)) { (acc, i) =>
      acc + when(col(s"ts_${i + 1}").isNotNull, 1).otherwise(0)
    }
    // a NULL step makes every later step NULL by construction (each step
    // joins on the previous step's survivors), so depth is contiguous
    completed.withColumn("depth", depth)
  }

  /** Cohort retention: users are cohorted by their first-seen period and
    * counted on each later period they were active — the (cohort, offset)
    * retention triangle. Returns (cohort, offset, active_users) with
    * offset in periods since the cohort period (offset 0 = the cohort
    * period itself).
    *
    * Scale shape: three partial+final hash aggregates and one user-keyed
    * join — (1) first-seen per user, (2) distinct (user, period) activity
    * (map-side combine collapses each partition to its distinct pairs
    * before the shuffle), (3) the triangle itself, grouped by (cohort,
    * offset) with a count over users already deduped by step 2, so no
    * count-distinct expansion is needed. The user-keyed exchange is shared
    * between (1), (2) and the join. */
  def cohortRetention(
      events: DataFrame,
      userCol: Column,
      tsCol: Column,
      periodMs: Long): DataFrame = {
    require(periodMs > 0, s"periodMs must be positive, got $periodMs")
    val base = events.select(userCol.as("user"),
      floor(unix_millis(tsCol.cast("timestamp")) / lit(periodMs))
        .cast("long").as("period"))
    // cohort = min period per user, computed as a window over the
    // distinct activity table instead of a separate aggregate joined
    // back — the join's two references each re-ran the event scan (r6,
    // guide §2.4). min over distinct periods equals min over raw events,
    // so values are identical; the isNotNull filter reproduces the old
    // inner join's null-user drop.
    base.filter(col("user").isNotNull)
      .distinct()
      .withColumn("cohort", min("period").over(Window.partitionBy("user")))
      .groupBy(col("cohort"), (col("period") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active_users"))
  }
}
