package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive execution sizing (round-6 optimization; guide §2.2/§2.5).
  *
  * The bench session pins `spark.sql.shuffle.partitions = 8 × cores` with
  * AQE partition coalescing OFF — the right shape for the CPU-dense kernel
  * stages (tiny-byte shuffles whose per-row cost is O(n²) ClaSP work, where
  * size-based coalescing would serialize the job), but a constant tuned for
  * neither local mode nor a cluster for the ~140 ordinary SQL queries: at
  * bench scale every exchange then schedules hundreds of near-empty tasks
  * (measured: all 153 queries 227.8 s at 256 partitions vs 157.4 s at 32 on
  * the same host — pure scheduling overhead), while at 100 TB a constant is
  * far too SMALL.
  *
  * So each query derives its own shuffle width from its input footprint —
  * the same sizing AQE partition coalescing would compute at runtime,
  * derived statically from input stats because the session has coalescing
  * disabled:
  *
  *   partitions = max(ceil(inputBytes / 128 MB),                 // target size
  *                    min(defaultParallelism, ceil(inputBytes / 1 MB)))
  *   // cpuDense queries: floor = defaultParallelism, no byte minimum
  *   //   (their bytes understate cost by construction)
  *
  * - The 128 MB target is the guide's 100 MB–1 GB post-shuffle partition
  *   size; at 100 TB it dominates (~800k partitions) and the floor is
  *   irrelevant.
  * - The parallelism floor keeps every core busy when the bytes term
  *   collapses (small inputs) — AQE coalescing's own "parallelism first"
  *   rule — but is itself bounded by the 1 MB minimum partition size (AQE's
  *   `minPartitionSize` default): partitions an order of magnitude smaller
  *   than that are pure scheduling overhead (measured below).
  * - CPU-dense queries (ClaSP/ClaSS kernel stages, DTW, matrix-profile
  *   style per-key O(n²) work) floor at the FULL defaultParallelism with
  *   no byte minimum: their shuffles are small in bytes but heavy in
  *   per-key CPU, so every core must get a slot regardless of byte counts.
  *   Over-decomposing further does not pay: over the 11 dense queries at
  *   sf0.1/local[32], back-to-back same-config sweeps measured floor×8 =
  *   15.6 s, ×2 = 13.6 s, ×1 = 12.5 s — the extra tasks cost more in
  *   scheduling than they save in straggler drain at these key counts (the
  *   kernel PIPELINE keeps the bench session's own 8×cores conf).
  *
  * This is session-conf based (`spark.sql.shuffle.partitions` is read at
  * action time) — every query fn sets its own value on entry, so ordering
  * between queries cannot leak a stale width. Results are unaffected:
  * partitioning never changes what any query computes, only how wide its
  * exchanges run (verified by the unchanged oracle hashes + rollup_hash). */
object Adaptive {

  /** Target post-shuffle partition size (guide §2.2: 100 MB–1 GB). */
  val TargetPartitionBytes: Long = 128L * 1024 * 1024

  /** Minimum useful post-shuffle partition size (AQE
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` default). */
  val MinPartitionBytes: Long = 1024L * 1024

  /** Input size below which AQE is disabled for the query. AQE's value —
    * runtime skew-join splitting, join-strategy re-planning, partition
    * coalescing — only materializes on shuffles big enough for size
    * estimates to be wrong in ways that matter; under ~1 GB of input every
    * stage's work is metadata-sized and AQE is pure per-stage re-planning
    * overhead (measured back-to-back over all 153 queries at sf0.1:
    * 150.9 s with AQE, 124.4 s without — ~17%). At or above the threshold
    * AQE stays ON (the 100-TB posture). */
  val AqeMinInputBytes: Long = 1024L * 1024 * 1024

  private val dirBytesCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Total bytes under `dir` (recursive, local/posix path — the bench and
    * oracle layout). Cached per dir: this is input METADATA (file sizes),
    * not query results; a real deployment reads the same number from the
    * table catalog's statistics. */
  def inputBytes(dir: String): Long =
    dirBytesCache.computeIfAbsent(dir, d => {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(d))
    })

  /** Shuffle width for a query over `dir`: size-derived with a
    * parallelism floor; `cpuDense` lifts the floor's byte cap for
    * kernel-stage queries (see object doc). */
  def shufflePartitions(spark: SparkSession, dir: String, cpuDense: Boolean): Int = {
    val bytes = math.max(1L, inputBytes(dir))
    val target = (bytes + TargetPartitionBytes - 1) / TargetPartitionBytes
    val floor =
      if (cpuDense)
        // kernel-stage shuffles: bytes understate cost by construction (the
        // per-key work is O(n²) ClaSP/CLaP/DTW CPU), so the byte-based
        // minimum does NOT apply — every core gets a slot
        spark.sparkContext.defaultParallelism.toLong
      else
        math.min(spark.sparkContext.defaultParallelism.toLong,
          (bytes + MinPartitionBytes - 1) / MinPartitionBytes)
    math.max(target, floor).min(Int.MaxValue).toInt
  }

  /** Set the session shuffle width for the query being built. Called at
    * query-fn entry (before any plan is constructed or inner action runs). */
  def tune(spark: SparkSession, dir: String, cpuDense: Boolean = false): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions",
      shufflePartitions(spark, dir, cpuDense).toString)
    spark.conf.set("spark.sql.adaptive.enabled",
      (inputBytes(dir) >= AqeMinInputBytes).toString)
  }

  /** Output file count for a materialized store of roughly `estBytes`
    * (guide §6: 128 MB–1 GB files; floor 1). The rewrite-store queries use
    * the store's INPUT footprint as the estimate — aggregation only
    * shrinks it, so this over-provisions slightly and never under-sizes. */
  def outputFiles(estBytes: Long): Int =
    math.max(1L, estBytes / TargetPartitionBytes).min(Int.MaxValue).toInt

  /** The one way an op or query materializes a SMALL derived table (cells,
    * vocabulary, key-count or flag-sized — never corpus-sized) that more
    * than one consumer of the same plan reads.
    *
    * Why: referencing a subtree twice re-executes it — each consumer's
    * pushed-down `isnotnull`/filter makes the copies canonicalize
    * differently, so exchange reuse cannot fire, and the expensive
    * aggregate behind the table would run once per consumer.
    *
    * How: a lazy local checkpoint. The table is computed by the first
    * action that needs it, inside that action (no extra job boundary), and
    * every consumer then reads the same blocks as a `Scan ExistingRDD`.
    * It truncates lineage (iterative ops such as
    * [[DedupOps.connectedComponents]] need that) and keeps the plan's
    * output partitioning, so repartitioning on a downstream join key
    * before the call saves that join's exchanges (q100).
    *
    * Unlike `persist`, nothing is registered with Spark's CacheManager:
    * the table is private to the query that built it — another query with
    * the same plan shape recomputes it instead of reading stale or foreign
    * state — and its blocks are released by the ContextCleaner once the
    * returned DataFrame is unreachable, so no caller unpersists. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
}
