package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Checkpointing, CrawlSignals, Rollup, SyntheticCrawl}

/** Driver-run benchmark: one JSON line on stdout.
  *
  * Sections:
  *  - headline pipeline: synthetic crawl table (input_hint shape) → page-size
  *    signal → ClaSP-adaptive rollup, ALL tiers from one kernel pass;
  *    reports rolled-up points/sec (the BASELINE.json metric) and an
  *    order-independent content hash (bit-for-bit evidence across
  *    parallelism levels — run with SPARK_GRAFT_CPUS=8 vs 32).
  *  - every SparkEntry query, timed individually.
  */
object Bench {

  /** Per-stage task telemetry: stage wall vs summed task time vs max task vs
    * summed on-CPU time, one `[stage]` line per completed stage handed to
    * `emit`. Wall vs taskSum vs taskMax tells straggler-bound from
    * contention-bound scaling; on-CPU time flat across parallelism means
    * the engine adds no contention, so any wall/taskSum inflation beyond
    * it is external (hypervisor steal, DRAM bandwidth). */
  def stageListener(emit: String => Unit): org.apache.spark.scheduler.SparkListener =
    new org.apache.spark.scheduler.SparkListener {
      import java.util.concurrent.ConcurrentHashMap
      import org.apache.spark.scheduler.{SparkListenerStageCompleted, SparkListenerTaskEnd}
      private val taskMax = new ConcurrentHashMap[Int, Long]()
      private val taskSum = new ConcurrentHashMap[Int, Long]()
      private val cpuSum = new ConcurrentHashMap[Int, Long]()

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val rt = e.taskInfo.duration
        taskMax.merge(e.stageId, rt, (a, b) => math.max(a, b))
        taskSum.merge(e.stageId, rt, (a, b) => a + b)
        if (e.taskMetrics != null)
          cpuSum.merge(e.stageId, e.taskMetrics.executorCpuTime, (a, b) => a + b)
      }

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        emit(f"[stage] id=${si.stageId} name=${si.name.takeWhile(_ != '(').trim} " +
          f"tasks=${si.numTasks} wall=${wall / 1e3}%.1fs " +
          f"taskSum=${taskSum.getOrDefault(si.stageId, 0L) / 1e3}%.1fs " +
          f"taskMax=${taskMax.getOrDefault(si.stageId, 0L) / 1e3}%.1fs " +
          f"cpuSum=${cpuSum.getOrDefault(si.stageId, 0L) / 1e9}%.1fs")
      }
    }

  /** Runs each query once, in order, and times it. A query that throws is
    * timed like any other, named on stderr and listed in the failures. */
  def timeQueries(queries: Seq[(String, () => Any)]): (Seq[(String, Double)], Seq[String]) = {
    val failed = Seq.newBuilder[String]
    val times = queries.map { case (name, run) =>
      val q0 = System.nanoTime()
      val error = try { run(); None } catch { case scala.util.control.NonFatal(e) => Some(e) }
      val t = (System.nanoTime() - q0) / 1e9
      error.foreach { e =>
        Console.err.println(s"[bench] query $name FAILED: $e")
        failed += name
      }
      name -> t
    }
    (times, failed.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER overrides the single-JVM local[n] default — used
    // with `local-cluster[N,C,MB]` (Spark's real multi-executor test
    // mode: separate executor JVMs, socket shuffle, serialized task
    // dispatch) to evidence the north rule's two-cluster-size criterion
    // with actual executors, not just thread counts. Executor JVMs need
    // the engine classes on THEIR classpath: pass
    // spark.executor.extraClassPath=target/scala-2.13/classes via
    // SPARK_GRAFT_EXECUTOR_CLASSPATH. The worker's executor launcher also
    // needs SPARK_HOME=/opt/spark and SPARK_SCALA_VERSION=2.13 in the
    // environment (it rebuilds the executor command from SPARK_HOME —
    // without it, "Cannot find any build directories").
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder00 = SparkSession.builder().master(master)
    val builder01 = sys.env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH") match {
      case Some(cp) => builder00.config("spark.executor.extraClassPath", cp)
      case None => builder00
    }
    // local-cluster's third parameter is WORKER memory; executor heaps
    // still default to 1g and GC-thrash on the html-bytes scan — size them
    // explicitly for multi-executor runs
    val builder02 = sys.env.get("SPARK_GRAFT_EXECUTOR_MEM") match {
      case Some(m) => builder01.config("spark.executor.memory", m)
      case None => builder01
    }
    // Executor JVMs launched by the local-cluster worker do NOT inherit
    // build.sbt's javaOptions — without the pinned-heap ParallelGC flags
    // the allocation-heavy signal scan hits the exact G1 region-churn
    // pathology the driver flags exist to prevent (>90% kernel time,
    // measured 13-30x scan-stage cpuSum inflation at 8 executors). Default
    // the executor flags to the driver's; SPARK_GRAFT_EXECUTOR_OPTS
    // overrides.
    val builder0 =
      if (master.startsWith("local-cluster"))
        builder02.config("spark.executor.extraJavaOptions",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_OPTS", {
            // -Xms pins the heap without AlwaysPreTouch: pretouching 8x6g
            // executor heaps costs ~3 min of page-zeroing at LAUNCH (it
            // dominated the first stage's wall), while lazy commit spreads
            // the same cost thinly through the short scan. The long-lived
            // driver keeps pretouch (build.sbt). -Xms is derived from
            // SPARK_GRAFT_EXECUTOR_MEM (a JVM-suffixed string like "6g")
            // and OMITTED when unset — a hardcoded floor above Spark's 1g
            // default executor heap would kill every executor at launch
            // with Xms > Xmx.
            val xms = sys.env.get("SPARK_GRAFT_EXECUTOR_MEM")
              .filter(_.matches("(?i)\\d+[kmg]"))
              .map(m => s"-Xms$m ").getOrElse("")
            s"$xms-XX:+UseParallelGC"
          }))
      else builder02
    // Shuffle/spill dirs: this VM's virtio disk collapses under concurrent
    // shuffle writers (measured at 48k urls/local[32]: scan-stage taskSum
    // 6322 s vs cpuSum 295 s, tasks 90% blocked on write; moving local
    // dirs to RAM-backed /dev/shm cut the stage 3.2x and the kernel
    // section 298->200 s with an identical rollup_hash). A real executor
    // owns local NVMe, so tmpfs is the faithful local-mode stand-in —
    // default there when present; SPARK_LOCAL_DIRS (which Spark reads
    // FIRST) still overrides.
    val spark = (if (sys.env.contains("SPARK_LOCAL_DIRS") ||
        !new java.io.File("/dev/shm").isDirectory) builder0
      else builder0.config("spark.local.dir", "/dev/shm/graft-spark-local"))
      // 8× cores: the kernel stage is CPU-bound with heavy-tailed per-key
      // cost (mega-series), so extra partitions let fast tasks drain while
      // stragglers run
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // CRITICAL for the kernel stage: its shuffle is small in BYTES but
      // enormous in CPU (O(n²) per series) — AQE's size-based coalescing
      // would fold it into one task and serialize the whole job
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // CPU-heavy scan (snappy decode + octet_length over html bytes): the
      // default 128 MB splits yield too few scan tasks to keep 32 cores
      // busy, putting the scan stage on the critical path at high
      // parallelism; 16 MB splits keep scan tasks ~100ms+ and fully parallel
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // per-stage skew telemetry: stage wall vs summed task time vs max task —
    // distinguishes straggler-bound from contention-bound scaling
    if (sys.env.contains("SPARK_GRAFT_STAGE_STATS")) {
      spark.sparkContext.addSparkListener(stageListener(System.err.println))
    }

    // ---- headline pipeline (scale with sf dir) ----------------------------
    val nUrls = sys.env.get("SPARK_GRAFT_BENCH_URLS").map(_.toInt).getOrElse {
      if (sfDir.contains("sf0.1")) 1000
      else if (sfDir.contains("sf0.01")) 250
      else 64
    }
    def phase[T](label: String)(f: => T): T = {
      val p0 = System.nanoTime(); val r = f
      System.err.println(f"[bench] $label: ${(System.nanoTime() - p0) / 1e9}%.1f s"); r
    }
    // Input is a TABLE (input_hint: Iceberg/parquet of web pages), so the
    // timed section starts at the scan: materialize the synthetic crawl to
    // parquet ONCE (untimed, reused across parallelism levels — html bytes
    // cost an LCG step per byte to generate, which is generator cost, not
    // engine cost) and read it back like a real run would.
    val pagesPath = sys.env.getOrElse("SPARK_GRAFT_PAGES_DIR", "/tmp/graft_bench_pages") +
      s"_${nUrls}_300"
    if (!new java.io.File(pagesPath, "_SUCCESS").exists()) {
      phase("pages parquet (untimed setup)") {
        SyntheticCrawl.pagesDF(spark, nUrls, basePoints = 300)
          .write.mode("overwrite").parquet(pagesPath)
      }
    }
    val t0 = System.nanoTime()
    val pages = spark.read.parquet(pagesPath)
    val points = CrawlSignals.pageSize(pages)
    val allTiers = Rollup.scalableRollupAllTiers(points, 60000L, segment = true).toDF()
    // ONE action computes per-tier counts and the order-independent content
    // hash together — no persist (building the columnar cache of ~10M rows
    // cost more than the second scan it saved)
    val (tierCounts, hash) = phase("kernel+tiers+hash") {
      val rows = allTiers
        .groupBy("tier")
        .agg(count(lit(1)).as("rows"),
          sum(xxhash64(allTiers.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")).as("hsum"))
        .collect()
      val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = rows.map(r => BigDecimal(r.getDecimal(2))).sum
      // same pmod reduction as Checkpointing.contentHashCol so the bench
      // hash and the checkpoint manifests are cross-comparable
      val m = total % BigDecimal(Long.MaxValue)
      (counts, (if (m < 0) m + BigDecimal(Long.MaxValue) else m).toLong)
    }
    val rolledRows = tierCounts.values.sum
    val pipelineWall = (System.nanoTime() - t0) / 1e9
    val nPoints = phase("points count")(points.count())
    val pointsPerSec = rolledRows / pipelineWall

    // ---- per-query timings (skippable for pure scaling runs) --------------
    val (results, failed) =
      if (sys.env.contains("SPARK_GRAFT_SKIP_QUERIES")) (Seq.empty[(String, Double)], Seq.empty[String])
      else timeQueries(SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (() => fn(spark, sfDir).count())
      })
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = pipelineWall + results.map(_._2).sum
    val tiers = tierCounts.toSeq.sortBy(_._1)
      .map { case (t, c) => "\"" + t + "\":" + c }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir",""" +
      s""""parallelism":$cpus,"pipeline":{"n_urls":$nUrls,"n_points":$nPoints,""" +
      s""""rolled_rows":$rolledRows,"tier_rows":$tiers,"wall_sec":$pipelineWall,""" +
      s""""rolled_points_per_sec":$pointsPerSec,"rollup_hash":$hash}}"""
    // stdout gets wrapped in sbt's [info] prefix and interleaved with logs;
    // the file is the parse-safe channel for the driver. Pipeline-only
    // scaling legs (SKIP_QUERIES) route to a sibling file so they can't
    // clobber the canonical full-query benchmark record.
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_SKIP_QUERIES"))
        "/root/repo/bench_pipeline_out.json"
      else "/root/repo/bench_out.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
