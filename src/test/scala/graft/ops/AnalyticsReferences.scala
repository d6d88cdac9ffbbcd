package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic double-sum analytics that no query runs: the references that
  * their exact variants ([[AnalyticsOps.seasonalDecomposeExact]]) are
  * compared against. */
object AnalyticsReferences {

  /** Additive seasonal decomposition against a calendar profile:
    * value = trend (per-(key, trend-bucket) mean) + seasonal (per-(key,
    * season-phase) mean of the detrended values) + residual. With
    * trend bucket = day and season phase = hour-of-day this is the
    * "subtract the daily level, then the hour-of-day shape" baseline that
    * turns diurnal traffic into a flat residual stream worth alerting on.
    *
    * Scale shape: ONE event-sized shuffle — a partial+final hash aggregate
    * to (key, trendBucket, phase) cells carrying (sum, count). Trend and
    * seasonal are then derived from CELLS (trend = Σsum/Σcnt per (key,
    * bucket); seasonal = Σ(sum − cnt·trend)/Σcnt per (key, phase)), so the
    * decomposition itself never re-reads the events. The final annotate is
    * one join of events against the two cell-sized (AQE-broadcastable)
    * stat tables. A naive formulation (window mean, join, second window)
    * would shuffle the events three times; this shape shuffles them once
    * plus one join. */
  def seasonalDecompose(
      events: DataFrame,
      keyCol: Column,
      trendBucketCol: Column,
      phaseCol: Column,
      valueCol: Column): DataFrame = {
    val tagged = events
      .withColumn("__key", keyCol)
      .withColumn("__tb", trendBucketCol)
      .withColumn("__ph", phaseCol)
    // cell-sized; the trend and seasonal derivations share it
    val cells = Adaptive.materialize(tagged
      .groupBy("__key", "__tb", "__ph")
      .agg(sum(valueCol).as("__sv"), count(lit(1)).as("__c")))
    val trend = cells.groupBy("__key", "__tb")
      .agg((sum("__sv") / sum("__c")).as("trend"))
    val seasonal = cells.join(trend, Seq("__key", "__tb"))
      .groupBy("__key", "__ph")
      .agg((sum(col("__sv") - col("__c") * col("trend")) / sum("__c"))
        .as("seasonal"))
    tagged
      .join(trend, Seq("__key", "__tb"))
      .join(seasonal, Seq("__key", "__ph"))
      .withColumn("residual", valueCol - col("trend") - col("seasonal"))
      .drop("__key", "__tb", "__ph")
  }
}
