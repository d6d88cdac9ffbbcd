package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retention-tier expiry — the north rule's "retention" leg (TimescaleDB
  * `drop_chunks` / Iceberg `DELETE WHERE`-style semantics, public methods):
  * each tier keeps rows whose bucket is within that tier's horizon of the
  * dataset's max bucket; a tier absent from the policy keeps forever. The
  * anchor is data-derived (max bucket), never wall-clock, so runs are
  * deterministic and oracle-comparable. */
object RetentionOps {

  /** Filter `tiers` to in-horizon rows against a precomputed 1-row
    * `anchor` frame (column `anchor_ms`).
    *
    * Deriving the anchor from `tiers` itself re-executes the whole tier
    * lineage just for one scalar; when the finest tier's max bucket is
    * computable upstream (e.g. minute-trunc of max raw ts — truncation is
    * monotone, so coarser tiers can never exceed it), pass that as a
    * column-pruned single-agg scan instead, which is what the q37
    * pipeline does. */
  def applyRetention(
      tiers: DataFrame,
      anchor: DataFrame,
      horizonMs: Map[String, Long],
      tierCol: String,
      bucketCol: String): DataFrame = {
    val horizon = horizonMs.foldLeft(lit(Long.MaxValue)) { case (acc, (t, h)) =>
      when(col(tierCol) === t, lit(h)).otherwise(acc)
    }
    tiers.crossJoin(broadcast(anchor))
      .filter(col("anchor_ms") - unix_millis(col(bucketCol).cast("timestamp")) <= horizon)
      .drop("anchor_ms")
  }

  /** Tiered read — the retention policy's QUERY-side complement (the
    * Thanos/M3 "downsampled block selection" semantics, public pattern):
    * every row is served at the resolution its AGE earns — rows newer than
    * `fineCutMs` at 1m, between the cuts at 1h, older at 1d — and
    * aggregated into that tier's buckets in ONE pass. Rows are classified
    * by their own timestamp against the (data-derived, day-aligned) cuts,
    * so a coarse bucket straddling a cut is served partly by each tier —
    * deterministic and exactly mirrorable; no row is ever double-served.
    *
    * Scale shape: the tier/bucket columns are map-side CASE expressions,
    * then a single partial+final hash aggregate over (key, tier, bucket) —
    * one event-sized shuffle, no explode, no per-tier rescan. EXACT
    * cross-engine: decimal sums, integer cuts/buckets. The caller passes
    * the pruned `anchorMs` (max event ts — aggregate-sized, the q81
    * license). */
  def tieredRead(
      events: DataFrame,
      keyCol: org.apache.spark.sql.Column,
      tsCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      anchorMs: Long,
      fineCutMs: Long,
      midCutMs: Long): DataFrame = {
    require(fineCutMs < midCutMs, s"cuts must order fine < mid, got $fineCutMs/$midCutMs")
    val dayMs = 86400000L
    val cut1 = ((anchorMs - fineCutMs) / dayMs) * dayMs
    val cut2 = ((anchorMs - midCutMs) / dayMs) * dayMs
    val tsMs = unix_millis(tsCol.cast("timestamp"))
    val tier = when(tsMs >= cut1, "1m").when(tsMs >= cut2, "1h").otherwise("1d")
    val tierMs = when(tsMs >= cut1, 60000L).when(tsMs >= cut2, 3600000L)
      .otherwise(dayMs)
    events
      .groupBy(keyCol.as("key"), tier.as("tier"),
        (floor(tsMs / tierMs) * tierMs).cast("long").as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(valueCol.cast("decimal(12,2)")).as("vsum"))
  }
}
