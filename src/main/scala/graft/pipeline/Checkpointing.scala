package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition lineage + metrics checkpointing for exact resume (north
  * rule). Work is sharded into `nBuckets` url-hash buckets; each completed
  * bucket is recorded in a manifest with row counts + an order-independent
  * content hash. Resume = anti-join pending buckets against the manifest and
  * recompute only those, overwriting their partition dirs (dynamic partition
  * overwrite), so a killed job restarts exactly where it left off and the
  * final output is bit-identical to a single uninterrupted run. */
object Checkpointing {

  final case class BucketManifest(
      bucket: Int, n_rows: Long, n_urls: Long, content_hash: Long, wall_ms: Long)

  def manifestPath(outDir: String) = s"$outDir/_manifest"
  def rollupPath(outDir: String) = s"$outDir/rollups"

  /** Bucketed rollup sink: hash-bucketed AND sorted by (url, bucket_start),
    * so every downstream url-keyed operation — tier cascades, epoch blobs,
    * as-of joins between tiers, resume anti-joins — reads its url co-located
    * and in time order with NO exchange (SURVEY §4.3 explicit partitioning;
    * the Iceberg analogue is a bucket(url) partition transform + sorted
    * write). See RollupPipelineSpec for the shuffle-free-join plan proof. */
  def writeBucketed(
      rows: Dataset[RollupRow],
      table: String,
      buckets: Int = 64,
      io: graft.sources.TableIO = graft.sources.ParquetTableIO): Unit =
    io.writeBucketedSorted(rows.toDF(), table, buckets, "url", Seq("url", "bucket_start"))

  /** Buckets already completed according to the manifest (empty on first run). */
  def doneBuckets(spark: SparkSession, outDir: String,
      io: graft.sources.TableIO = graft.sources.ParquetTableIO): Set[Int] = {
    import spark.implicits._
    try io.read(spark, manifestPath(outDir)).select("bucket").as[Int].collect().toSet
    catch { case _: Exception => Set.empty }
  }

  /** Order-independent content hash: sum of per-row xxhash64 over the given
    * columns, accumulated in decimal space (ANSI-safe, no long overflow) and
    * reduced mod 2^63. Commutative, so identical data hashes identically at
    * any parallelism. */
  def contentHashCol(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    pmod(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      lit(new java.math.BigDecimal(Long.MaxValue))).cast("long")

  def contentHash(df: DataFrame): Long = {
    import df.sparkSession.implicits._
    df.select(contentHashCol(df.columns.map(col).toIndexedSeq)).as[Long].head()
  }

  /** Run `points → adaptive 1m rollup` resumably. Returns the number of
    * buckets actually computed this invocation (0 == nothing pending). */
  def runResumable(
      points: Dataset[SeriesPoint],
      outDir: String,
      nBuckets: Int = 64,
      bucketMs: Long = 60000L,
      segment: Boolean = true,
      io: graft.sources.TableIO = graft.sources.ParquetTableIO): Int = {
    val spark = points.sparkSession
    import spark.implicits._

    val done = doneBuckets(spark, outDir, io)
    val pendingPoints = points
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets)).cast("int"))
      .filter(!col("bucket").isInCollection(if (done.isEmpty) Set(-1) else done))

    if (pendingPoints.isEmpty) return 0

    val t0 = System.nanoTime()
    // two-phase skew-safe kernel: resume buckets shard by url-hash, the
    // chunked phase-1 additionally bounds per-task work within a bucket
    val rollups = Rollup.scalableRollup(
        pendingPoints.select("url", "ts", "value").as[SeriesPoint], bucketMs, "1m", segment)
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets)).cast("int"))

    io.write(rollups.toDF(), rollupPath(outDir), partitionCols = Seq("bucket"),
      dynamicOverwrite = true)
    val wallMs = (System.nanoTime() - t0) / 1000000L

    // lineage/metrics per bucket, computed from what was just written
    val written = io.read(spark, rollupPath(outDir))
      .filter(!col("bucket").isInCollection(if (done.isEmpty) Set(-1) else done))
    val dataCols = written.columns.filter(_ != "bucket").map(col).toIndexedSeq
    val manifest = written.groupBy("bucket").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("url")).as("n_urls"),
        contentHashCol(dataCols).as("content_hash"))
      .withColumn("wall_ms", lit(wallMs))
      .as[BucketManifest]

    val n = manifest.count().toInt
    io.write(manifest.toDF(), manifestPath(outDir), mode = SaveMode.Append)
    n
  }
}

/** End-to-end batch pipeline: pages → signal → adaptive 1m rollup with
  * ClaSP epochs → 1h/1d cascades → retention → parquet sinks + Gorilla
  * blobs. One url shuffle feeds the kernel; the cascades are pure Catalyst
  * hash-aggs over the (much smaller) 1m tier. */
object Pipeline {

  final case class Result(rows1m: Long, rows1h: Long, rows1d: Long, blobs: Long)

  def run(
      pages: DataFrame,
      outDir: String,
      signal: String = "page_size",
      segment: Boolean = true,
      retainDays: Map[String, Int] = Map.empty,
      io: graft.sources.TableIO = graft.sources.ParquetTableIO): Result = {
    val spark = pages.sparkSession
    import spark.implicits._

    val points = signal match {
      case "page_size" => CrawlSignals.pageSize(pages)
      case "text_len" => CrawlSignals.textLen(pages)
      case "lang_churn" => CrawlSignals.langChurn(pages)
      case other => throw new IllegalArgumentException(s"unknown signal $other")
    }

    // two-phase skew-safe rollup: chunked kernels bound the straggler,
    // sequential in-kernel folds → bit-identical output at any parallelism
    val all = Rollup.scalableRollupAllTiers(points, 60000L, segment).cache()
    val r1m = all.filter(_.tier == "1m")
    val r1h = all.filter(_.tier == "1h")
    val r1d = all.filter(_.tier == "1d")
    // blobs from the cached 1m tier — never re-runs the O(n²) kernel
    val blobs = r1m.groupByKey(_.url)
      .flatMapGroups((url, it) => Rollup.kernelBlobs(url, it.toArray).iterator)

    // ONE driver action establishes the retention "now" (the data's max
    // bucket across tiers) — one consistent clock for every tier instead of
    // three per-tier max scans of the cached dataset
    lazy val nowMs: Long =
      all.toDF().agg(max("bucket_start")).collect()(0).getLong(0)
    def withRetention(ds: Dataset[RollupRow], tier: String): Dataset[RollupRow] =
      retainDays.get(tier) match {
        case Some(d) => Rollup.retain(ds, nowMs, d.toLong * 86400000L)
        case None => ds
      }

    val out1m = withRetention(r1m, "1m")
    val out1h = withRetention(r1h, "1h")
    val out1d = withRetention(r1d, "1d")

    io.write(out1m.toDF(), s"$outDir/tier=1m")
    io.write(out1h.toDF(), s"$outDir/tier=1h")
    io.write(out1d.toDF(), s"$outDir/tier=1d")
    io.write(blobs.toDF(), s"$outDir/blobs")

    val res = Result(
      io.read(spark, s"$outDir/tier=1m").count(),
      io.read(spark, s"$outDir/tier=1h").count(),
      io.read(spark, s"$outDir/tier=1d").count(),
      io.read(spark, s"$outDir/blobs").count())
    all.unpersist()
    res
  }
}
