package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Checkpointing, CrawlSignals, Pipeline, Rollup, SyntheticCrawl}

/** crawl-rollup over graft.Bench's synthetic crawl input: pages parquet →
  * page-size signal → all tiers with ClaSP segmentation → per-tier counts
  * and content hash in one action. The traced run also times crawl-ingest's
  * pass on the same pages: `Pipeline.run` with fixed windows (no
  * segmentation) and retention, which caches the tiers, writes three tier
  * tables plus the Gorilla blobs and reads the tables back.
  *
  * The seed picks a window of consecutive url indices; window 0 at 1000
  * urls is exactly graft.Bench's input. Windows start on multiples of 100
  * urls, so every window holds the same mix of short, medium and mega
  * series. Passes are timed warm, after untimed warm-up passes. */
object Crawl {
  import Clock.timed

  val BasePoints = 300
  val CadenceMs = 60000L
  val Windows = 8
  val Urls = 100
  private val Retain = Map("1m" -> 7, "1h" -> 30)
  private val Setups = 3
  // the JIT keeps recompiling through the fifth pass: after three warm-up
  // passes, the next two still took 5-15 % more CPU time than the passes
  // after them, which held within a few per cent
  private val WarmupPasses = 5
  private val MinPasses = 3

  def window(seed: Long, urls: Int): (Int, Long, Long) = {
    val k = Math.floorMod(seed, Windows.toLong).toInt
    (k, k.toLong * urls, (k + 1).toLong * urls)
  }

  def pointsIn(lo: Long, hi: Long): Long =
    (lo until hi).map(i => SyntheticCrawl.pointsFor(i, BasePoints).toLong).sum

  /** The crawl table for urls [lo, hi), written as parquet. */
  def writePages(spark: SparkSession, lo: Long, hi: Long, path: Path): Unit = {
    import spark.implicits._
    spark.range(lo, hi, 1, math.min((hi - lo).toInt, 64)).as[Long]
      .flatMap(i => SyntheticCrawl.urlRows(i, BasePoints, CadenceMs))
      .withColumn("warc_ts", timestamp_millis(col("warc_ts")))
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(path.toString)
  }

  /** What one pass produced, as recorded in expected.tsv. */
  final case class Out(fields: Seq[(String, Any)], rolled: Long, storedBytes: Long, invariants: Seq[String])

  /** One crawl-rollup pass: tier rows, summed point counts and the
    * order-independent content hash graft.Bench reports as rollup_hash. */
  def rollupPass(spark: SparkSession, pages: Path, nPoints: Long): Out = {
    val all = Rollup.scalableRollupAllTiers(
      CrawlSignals.pageSize(spark.read.parquet(pages.toString)), 60000L, segment = true).toDF()
    val rows = all.groupBy("tier")
      .agg(count(lit(1)), sum(xxhash64(all.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
        sum("cnt"))
      .collect()
    val total = rows.map(r => BigDecimal(r.getDecimal(2))).sum % BigDecimal(Long.MaxValue)
    val hash = (if (total < 0) total + BigDecimal(Long.MaxValue) else total).toLong
    val tiers = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val lost = rows.collect { case r if r.getLong(3) != nPoints => s"tier ${r.getString(0)} holds ${r.getLong(3)} of $nPoints points" }
    Out(Seq("1m", "1h", "1d").map(t => t -> tiers.getOrElse(t, 0L)) :+ ("hash" -> hash),
      tiers.values.sum, 0L, lost.toSeq)
  }

  /** Change points in crawl-rollup's own output: each url's epochs count
    * up from 0 at every boundary. */
  def epochBoundaries(spark: SparkSession, pages: Path): Long =
    Rollup.scalableRollup(CrawlSignals.pageSize(spark.read.parquet(pages.toString)),
        60000L, "1m", segment = true).toDF()
      .groupBy("url").agg(max("epoch").as("e"))
      .agg(sum("e")).collect()(0).getLong(0)

  def ingestPass(spark: SparkSession, pages: Path, out: Path): Pipeline.Result =
    Pipeline.run(spark.read.parquet(pages.toString), out.toString, segment = false, retainDays = Retain)

  /** The pipeline's counts, a content hash of every table read back, and
    * the bytes the tables occupy. */
  def ingestCheck(spark: SparkSession, res: Pipeline.Result, out: Path, urls: Long): Out = {
    val hashes = Seq("tier=1m", "tier=1h", "tier=1d", "blobs")
      .map(t => Checkpointing.contentHash(spark.read.parquet(out.resolve(t).toString)))
    val s = Files.walk(out)
    val bytes = try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("^[._].*"))
      .mapToLong(p => Files.size(p)).sum finally s.close()
    Out(Seq("1m" -> res.rows1m, "1h" -> res.rows1h, "1d" -> res.rows1d, "blobs" -> res.blobs,
        "hash" -> hashes.mkString(":")),
      res.rows1m + res.rows1h + res.rows1d, bytes,
      if (res.blobs != urls) Seq(s"${res.blobs} blobs for $urls urls") else Nil)
  }

  /** A run's one-line summary of what failed, if anything. */
  private def problem(ctx: Ctx, workload: String, key: String, out: Out): Option[String] = {
    val diffs = ctx.expected.get((workload, key)) match {
      case Some(rec) => Expected.diff(rec, out.fields)
      case None => Seq("no recorded values")
    }
    val all = diffs ++ out.invariants
    if (all.isEmpty) None else Some(s"$workload $key: ${all.mkString("; ")}")
  }

  /** A pass timed on its own, without its output check. */
  final case class Pass(wall: Double, cpu: Double, problem: Option[String], out: Option[Out])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val conf = ctx.conf
    val workload = conf.workload
    val urls = conf.urls.getOrElse(Urls)
    val pages = conf.work.resolve("inputs").resolve("pages")
    val outRoot = ctx.dir("ingest-out")
    var passNo = 0

    def onePass(nPoints: Long, tag: String, asWorkload: String, key: String, ingest: Boolean): Pass = {
      passNo += 1
      val out = outRoot.resolve(s"pass-$passNo")
      try {
        val c0 = Clock.cpuNs
        val (o, wall, cpu) =
          if (!ingest) {
            val (r, w) = timed(SparkCollector.tagged(spark.sparkContext, tag)(rollupPass(spark, pages, nPoints)))
            (r, w, Clock.cpuSince(c0))
          } else {
            val (res, w) = timed(SparkCollector.tagged(spark.sparkContext, tag)(ingestPass(spark, pages, out)))
            val c = Clock.cpuSince(c0)
            (ingestCheck(spark, res, out, urls), w, c)
          }
        Pass(wall, cpu, problem(ctx, asWorkload, key, o), Some(o))
      } catch {
        case e: Exception =>
          Pass(Double.NaN, Double.NaN, Some(s"$asWorkload $key pass $passNo threw ${e.getClass.getSimpleName}: ${e.getMessage}"), None)
      } finally ctx.deleteTree(out)
    }

    if (conf.record) {
      // per window, one crawl-rollup pass (with its epoch boundaries) and one
      // crawl-ingest pass on the same pages, each output recorded; with
      // --urls only the seed's window (other sizes are checked by hand, not
      // by the runs)
      val ks = if (conf.urls.isDefined) Seq(window(conf.seed, urls)._1) else 0 until Windows
      for (k <- ks) {
        val (lo, hi) = (k.toLong * urls, (k + 1).toLong * urls)
        val key = s"w$k.n$urls"
        val genS = timed(writePages(spark, lo, hi, pages))._2
        for ((w, ingest) <- Seq(workload -> false, "crawl-ingest" -> true)) {
          val p = onePass(pointsIn(lo, hi), "record", w, key, ingest)
          val extra = if (ingest) Nil else Seq("cps" -> epochBoundaries(spark, pages))
          val line = p.out.map(o => Expected.line(w, key, o.fields ++ extra))
          line.foreach(ctx.recorded += _)
          ctx.log(f"${line.getOrElse(p.problem.get)} (generate $genS%.2f s, pass ${p.wall}%.2f s)")
        }
      }
      return
    }

    val (k, lo, hi) = window(conf.seed, urls)
    val key = s"w$k.n$urls"
    val nPoints = pointsIn(lo, hi)
    def pass(tag: String) = onePass(nPoints, tag, workload, key, ingest = false)
    ctx.log(s"$workload window $k: urls [$lo, $hi), $nPoints points")
    Layers.init(ctx.metrics, conf.trace)

    // ---- set-up: input generation several times (median); then warm-up
    // passes until the JIT has compiled the pass's hot paths. The warm-up is
    // the benchmark's own preparation, not the engine's set-up, and its walls
    // swing with the JIT, so it is left out of setup_s.
    val genS = (1 to Setups).map(i => ctx.tracer.span("setup", s"generate pages #$i")(
      timed(writePages(spark, lo, hi, pages))._2))
    val setupS = ctx.sessionS + Stats.median(genS)
    val warm = (1 to WarmupPasses).map(i => ctx.tracer.span("setup", s"warm-up pass #$i")(pass("warmup")))
    warm.foreach(w => ctx.outcome.check(w.problem.isEmpty, s"warm-up: ${w.problem.getOrElse("")}"))
    ctx.log(f"setup: session ${ctx.sessionS}%.2f s, generate ${genS.map(g => f"$g%.2f").mkString("/")} s, " +
      f"warm-up ${warm.map(w => f"${w.wall}%.2f").mkString("/")} s")

    // ---- timed passes: at least MinPasses, then while the next one fits in
    // --seconds. A traced run alternates untraced and traced passes. Only
    // passes with correct output are timed.
    val untraced = ArrayBuffer.empty[Pass]
    val traced = LinkedHashMap.empty[String, Pass]
    val spans = LinkedHashMap.empty[String, Long]
    HeapWatch.reset()
    HeapWatch.active = true
    val t0 = System.nanoTime()
    var done = 0
    var lastWall = 0.0
    def more: Boolean = done < 50 && (done < MinPasses ||
      (System.nanoTime() - t0) / 1e9 + lastWall <= conf.seconds)
    while (more) {
      spark.catalog.clearCache()
      val tag = s"pass-$done"
      val tracedPass = conf.trace && done % 2 == 1
      val p = if (tracedPass) {
        spark.sparkContext.addSparkListener(ctx.collector)
        try ctx.tracer.span("pipeline", tag) {
          spans(tag) = ctx.tracer.currentId
          pass(tag)
        } finally {
          SparkCollector.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(ctx.collector)
        }
      } else pass(tag)
      done += 1
      ctx.outcome.op(p.problem)
      HeapWatch.collect()
      if (p.wall.isNaN) return // the pass threw: there is nothing left to time
      lastWall = p.wall
      if (p.problem.isEmpty) { if (tracedPass) traced(tag) = p else untraced += p }
    }
    HeapWatch.active = false
    Layers.cacheState(ctx)
    ctx.log(f"passes: untraced ${untraced.map(p => f"${p.wall}%.2f").mkString("/")} s " +
      f"(cpu ${untraced.map(p => f"${p.cpu}%.2f").mkString("/")} s)" +
      (if (conf.trace) f", traced ${traced.values.map(p => f"${p.wall}%.2f").mkString("/")} s" else ""))
    if (untraced.isEmpty || (conf.trace && traced.isEmpty)) return

    val m = ctx.metrics
    if (!conf.trace) {
      Layers.set(m, "setup_s", setupS)
      Layers.set(m, "op_wall_s", Stats.median(untraced.map(_.wall).toSeq))
      Layers.set(m, "op_cpu_s", Stats.median(untraced.map(_.cpu).toSeq))
      Layers.set(m, "heap_peak_mb", HeapWatch.peakMb)
      return
    }

    // ---- traced run: per-layer numbers from the traced passes
    Layers.set(m, "pipeline.pass_s", Stats.median(untraced.map(_.wall).toSeq))
    Layers.set(m, "trace.overhead_s",
      Stats.median(traced.values.map(_.wall).toSeq) - Stats.median(untraced.map(_.wall).toSeq))
    val perPass = traced.toSeq.map { case (tag, p) => pipelineLayer(ctx, ctx.collector.stagesTagged(tag), p.wall) }
    for (name <- perPass.flatMap(_.keys).distinct)
      Layers.set(m, name, Stats.median(perPass.map(_.getOrElse(name, 0.0))))

    val boundaries = ctx.tracer.span("pipeline", "count epoch boundaries")(epochBoundaries(spark, pages))
    val series = ctx.tracer.span("kernel", "extract chunk series")(
      KernelReplay.chunkSeries(spark, spark.read.parquet(pages.toString)))
    val kr = ctx.tracer.span("kernel", "replay")(KernelReplay.run(series, ctx.cpus, ctx.tracer))
    ctx.log(f"kernel replay: ${kr.series} series, ${kr.points} points, ${kr.cps} cps, " +
      f"segment ${kr.segmentS}%.2f s cpu in ${kr.wallS}%.2f s wall; output boundaries $boundaries")
    ctx.outcome.check(kr.cps == boundaries,
      s"kernel replay found ${kr.cps} change points, crawl-rollup's output has $boundaries epoch boundaries")
    ctx.outcome.check(kr.diverged == 0,
      s"the replayed top-level split disagrees with the segmenter's change points on ${kr.diverged} series")
    ctx.expected.get((workload, key)).flatMap(_.get("cps")).foreach { rec =>
      ctx.outcome.check(rec == boundaries.toString, s"$boundaries epoch boundaries, recorded $rec")
    }
    Seq("kernel.series" -> kr.series.toDouble, "kernel.points" -> kr.points.toDouble,
      "kernel.cps" -> kr.cps.toDouble, "kernel.segment_s" -> kr.segmentS, "kernel.suss_s" -> kr.sussS,
      "kernel.knn_s" -> kr.knnS, "kernel.ensemble_s" -> kr.ensembleS, "kernel.validate_s" -> kr.validateS,
      "kernel.recurse_s" -> kr.recurseS, "kernel.ns_per_point" -> kr.nsPerPoint)
      .foreach { case (n, v) => Layers.set(m, n, v) }

    // the write path on the same pages (crawl-ingest's pass): one warm-up
    // run of Pipeline.run, then one traced
    val ingestWarm = onePass(nPoints, "ingest-warmup", "crawl-ingest", key, ingest = true)
    spark.sparkContext.addSparkListener(ctx.collector)
    val ingest = try ctx.tracer.span("ingest", "pipeline run") {
      spans("ingest") = ctx.tracer.currentId
      onePass(nPoints, "ingest", "crawl-ingest", key, ingest = true)
    } finally {
      SparkCollector.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ctx.collector)
    }
    Seq(ingestWarm, ingest).foreach(p => ctx.outcome.check(p.problem.isEmpty, p.problem.getOrElse("")))
    ingest.out.foreach(o => ingestLayer(ctx, "ingest", o.storedBytes.toDouble / o.rolled)
      .foreach { case (n, v) => Layers.set(m, n, v) })
    addStageSpans(ctx, spans.toSeq)
  }

  /** Stage-level numbers of one pass. Stages are classified by their place
    * in the pass: everything up to the first stage reading the parquet scan
    * is the scan; the next stage runs the chunked kernel and the last one
    * merges the per-tier counts and hash; the stages in between fold
    * buckets into tiers. */
  def pipelineLayer(ctx: Ctx, stages: Seq[StageRec], passWallS: Double): Map[String, Double] = {
    val iScan = stages.indexWhere(_.hasFileScan)
    val scan = stages.take(iScan + 1)
    val rest = stages.drop(iScan + 1)
    val kern = rest.take(1)
    val fold = rest.slice(1, rest.size - 1)
    val last = if (rest.size >= 2) Seq(rest.last) else Nil
    def wall(ss: Seq[StageRec]) = ss.map(_.wallMs).sum / 1000.0
    def cpu(ss: Seq[StageRec]) = ss.map(_.cpuNs).sum / 1e9
    val taskS = stages.map(_.taskMs).sum / 1000.0
    Map(
      "pipeline.scan_s" -> wall(scan), "pipeline.scan_cpu_s" -> cpu(scan),
      "pipeline.kernel_stage_s" -> wall(kern), "pipeline.kernel_stage_cpu_s" -> cpu(kern),
      "pipeline.kernel_task_max_s" -> kern.map(_.taskMaxMs).sum / 1000.0,
      "pipeline.fold_s" -> wall(fold), "pipeline.fold_cpu_s" -> cpu(fold),
      "pipeline.tiers_hash_s" -> wall(last),
      "pipeline.core_idle_frac" -> (1.0 - taskS / (passWallS * ctx.cpus)),
      "pipeline.shuffle_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "pipeline.gc_s" -> stages.map(_.gcMs).sum / 1000.0)
  }

  /** Per-group busy time and bytes of one traced `Pipeline.run`. */
  def ingestLayer(ctx: Ctx, tag: String, storedPerRow: Double): Map[String, Double] =
    ingestGroups(ctx.collector, tag).map { case (g, ms) => s"ingest.${g}_s" -> ms / 1000.0 } ++ Map(
      "ingest.bytes_written" -> ctx.collector.stagesTagged(tag).map(_.outputBytes).sum.toDouble,
      "ingest.stored_bytes_per_row" -> storedPerRow)

  /** The jobs of one `Pipeline.run`, grouped by the SQL execution (the
    * user call) that started them. The pipeline builds its cached tiers,
    * writes the tier tables, counts and writes the blobs, then reads every
    * table back: so executions before the first table write build the
    * cache, those after the last write read back, the last write and the
    * executions since the write before it produce the blobs, and the
    * remaining writes are the tier tables. Returns each group's busy time
    * (ms). */
  def ingestGroups(col: SparkCollector, tag: String): Map[String, Long] = {
    val jobs = col.jobsTagged(tag)
    // jobs outside any SQL execution join the execution before them
    val execOf = jobs.scanLeft(-1L) { (prev, j) =>
      Option(col.execs.get(j.execId)).map(_.root).getOrElse(prev)
    }.tail
    val execs = execOf.distinct
    val isWrite = execs.map(e => Option(col.execs.get(e)).exists(_.isWrite))
    val firstW = isWrite.indexOf(true)
    val lastW = isWrite.lastIndexOf(true)
    val prevW = if (lastW <= 0) -1 else isWrite.lastIndexOf(true, lastW - 1)
    val groupOf = execs.indices.map { i =>
      execs(i) -> (if (firstW < 0 || i < firstW) "cache_build"
        else if (i > lastW) "readback"
        else if (i > prevW) "blobs"
        else "write")
    }.toMap
    Seq("cache_build", "write", "blobs", "readback").map { g =>
      val js = jobs.indices.filter(i => groupOf(execOf(i)) == g).map(jobs)
      g -> SparkCollector.unionMs(js.map(j => (j.startMs, j.endMs)))
    }.toMap
  }

  /** Spark jobs and stages as spans under the span of the work that
    * started them (tag -> span id). */
  def addStageSpans(ctx: Ctx, parents: Seq[(String, Long)]): Unit =
    for ((tag, parent) <- parents; j <- ctx.collector.jobsTagged(tag)) {
      ctx.tracer.addMs(parent, "spark", s"job ${j.jobId}: ${ctx.collector.siteOf(j)}", j.startMs, j.endMs)
      for (id <- j.stageIds; s <- Option(ctx.collector.stages.get(id)) if s.completeMs > 0)
        ctx.tracer.addMs(parent, "spark", s"stage ${s.stageId} (${s.numTasks} tasks)", s.submitMs, s.completeMs)
    }
}
