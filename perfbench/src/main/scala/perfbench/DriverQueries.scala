package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.pipeline.Checkpointing

/** driver-queries: a fixed set of `SparkEntry.queries` entries, each run
  * once, cold, in one JVM — one-shot plans whose planning, code generation
  * and JIT cost the user pays on every query. Each query's action reads
  * every output column into a content hash, so no column is pruned away.
  *
  * The events table the queries read is generated here with the shape of
  * the engine's sf0.01 test data; the run's seed picks one of [[Variants]]
  * data sets. The queries always run in name order: a cold query's time
  * depends on which queries warmed the JVM before it, so a seed-dependent
  * order would make the seed, not the engine, move the numbers. */
object DriverQueries {

  /** Two kernel queries (q13 univariate, q28 multivariate segmentation) and
    * the roadmap-named queries that read only the events table, from the
    * gap-fill, window, drift, trend and motif families. A cold query costs
    * seconds, so the set is kept small enough for one run; it is large enough
    * that the mean over it does not follow one query's JIT timing. */
  val Names: Seq[String] = Seq(
    "q04_gapfill_1h", "q13_epoch_rollup_1h", "q28_multivariate_cps", "q36_gapfill_linear",
    "q87_slo_burn", "q96_histogram_drift", "q101_gapfill_nearest", "q103_sax_motifs",
    "q107_mann_kendall", "q108_seasonal_mk", "q116_psi_drift", "q144_emd_drift").sorted

  val Variants = 8
  private val Setups = 3
  // the shape of the engine's sf0.01 events table, as measured on it (see
  // README.md): 10,000 events, ids in time order, timestamps uniform over 30
  // days at microsecond resolution, users and event types uniform, values
  // exponential with mean 50 rounded to cents, props {"k": 0..99}
  private val Events = 10000
  private val Users = 150
  private val SpanDays = 30
  private val MeanValueCents = 5000.0
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")

  /** The events table of data set `variant`. */
  def generate(spark: SparkSession, dir: Path, variant: Int): Unit = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(42L + variant)
    val t0us = 1704067200000000L // 2024-01-01T00:00:00Z
    val spanUs = SpanDays * 86400L * 1000000L
    val ts = Array.fill(Events)(rng.nextLong(spanUs)).sorted
    val events = ts.indices.map { i =>
      val value = math.round(-MeanValueCents * math.log(1.0 - rng.nextDouble())) / 100.0
      (i.toLong, t0us + ts(i), rng.nextInt(Users).toLong, EventTypes(rng.nextInt(EventTypes.length)),
        value, s"""{"k": ${rng.nextInt(100)}}""")
    }
    events.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and order-independent content hash over every column. */
  def rowsAndHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val r = df.agg(count(lit(1)), Checkpointing.contentHashCol(cols)).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  final case class Timing(name: String, seconds: Double, cpu: Double)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val conf = ctx.conf
    // the sf token in the name sizes the queries' own synthetic inputs
    // (q28's crawl) the way the engine sizes them for sf0.01 test data
    val dir = conf.work.resolve("inputs").resolve("sf0.01")
    val dirStr = dir.toString
    def key(variant: Int, name: String) = s"d$variant:$name"

    if (conf.record) {
      for (v <- 0 until Variants) {
        generate(spark, dir, v)
        for (n <- Names) {
          val (rows, hash) = rowsAndHash(SparkEntry.queries(n)(spark, dirStr))
          ctx.recorded += Expected.line(conf.workload, key(v, n), Seq("rows" -> rows, "hash" -> hash))
          ctx.log(ctx.recorded.last)
        }
      }
      return
    }
    val variant = Math.floorMod(conf.seed, Variants.toLong).toInt
    Layers.init(ctx.metrics, conf.trace)

    // ---- set-up: generate the events table several times (median), then one
    // small job so the first query does not pay Spark's own start-up
    val genS = (1 to Setups).map(i => ctx.tracer.span("setup", s"generate events #$i")(
      Clock.timed(generate(spark, dir, variant))._2))
    val warmS = ctx.tracer.span("setup", "warm-up job")(Clock.timed(
      spark.read.parquet(dir.resolve("events.parquet").toString)
        .groupBy("event_type").agg(count(lit(1)), sum("value")).collect())._2)
    // the warm-up job is the benchmark's own preparation, not set-up
    val setupS = ctx.sessionS + Stats.median(genS)
    ctx.log(f"setup: session ${ctx.sessionS}%.2f s, generate ${genS.map(g => f"$g%.2f").mkString("/")} s, warm-up $warmS%.2f s")

    val querySpans = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    /** Runs every query once; a failed or wrong query is counted and named,
      * never timed. */
    def pass(label: String, traced: Boolean): Seq[Timing] = {
      if (traced) spark.sparkContext.addSparkListener(ctx.collector)
      try Names.flatMap { name =>
        val tag = s"$label:$name"
        val t0 = System.nanoTime()
        val c0 = Clock.cpuNs
        val got = try {
          Right(ctx.tracer.span("queries", tag) {
            if (traced) querySpans(tag) = ctx.tracer.currentId
            SparkCollector.tagged(spark.sparkContext, tag)(rowsAndHash(SparkEntry.queries(name)(spark, dirStr)))
          })
        } catch { case e: Exception => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val seconds = (System.nanoTime() - t0) / 1e9
        val cpu = Clock.cpuSince(c0)
        val problem = got match {
          case Left(err) => Some(err)
          case Right((rows, hash)) =>
            ctx.expected.get((conf.workload, key(variant, name))) match {
              case None => Some("no recorded values")
              case Some(rec) =>
                val d = Expected.diff(rec, Seq("rows" -> rows, "hash" -> hash))
                if (d.isEmpty) None else Some(d.mkString("; "))
            }
        }
        ctx.outcome.op(problem.map(p => s"${conf.workload} $label ${key(variant, name)}: $p"))
        if (HeapWatch.active) HeapWatch.collect()
        if (problem.isEmpty) Some(Timing(name, seconds, cpu)) else None
      } finally if (traced) {
        SparkCollector.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ctx.collector)
      }
    }

    HeapWatch.reset()
    HeapWatch.active = true
    val cold = pass("cold", conf.trace)
    HeapWatch.active = false
    Layers.cacheState(ctx)
    ctx.log(s"cold: ${cold.map(t => f"${t.name} ${t.seconds}%.2f").mkString(", ")}")
    val m = ctx.metrics
    if (cold.isEmpty) return
    val lat = cold.map(_.seconds)

    if (!conf.trace) {
      Layers.set(m, "setup_s", setupS)
      Layers.set(m, "op_wall_s", Stats.mean(lat))
      Layers.set(m, "op_cpu_s", Stats.mean(cold.map(_.cpu)))
      Layers.set(m, "heap_peak_mb", HeapWatch.peakMb)
      return
    }

    // ---- traced run: per-query and per-layer numbers from the cold pass
    Layers.set(m, "queries.total_s", lat.sum)
    Layers.set(m, "queries.p90_s", Stats.quantile(lat, 0.9))
    cold.foreach(t => Layers.set(m, s"q.${t.name}_s", t.seconds))
    val col = ctx.collector
    var driverS, jobS, cpuS, shuffle, spill, gcS = 0.0
    var jobs, stages, tasks, hits = 0L
    val persistedBy = scala.collection.mutable.HashMap.empty[Int, String]
    for (t <- cold) {
      val tag = s"cold:${t.name}"
      val js = col.jobsTagged(tag)
      val ss = col.stagesTagged(tag)
      val busy = SparkCollector.unionMs(js.map(j => (j.startMs, j.endMs))) / 1000.0
      jobS += busy
      driverS += math.max(0.0, t.seconds - busy)
      cpuS += ss.map(_.cpuNs).sum / 1e9
      shuffle += ss.map(_.shuffleWriteBytes).sum
      spill += ss.map(_.spillBytes).sum
      gcS += ss.map(_.gcMs).sum / 1000.0
      jobs += js.size
      stages += ss.size
      tasks += ss.map(_.numTasks.toLong).sum
      // a cached RDD built by an earlier query and read by this one
      for (id <- ss.flatMap(_.persistedRdds).distinct)
        persistedBy.get(id) match {
          case Some(owner) if owner != t.name => hits += 1
          case None => persistedBy(id) = t.name
          case _ =>
        }
    }
    Seq("queries.driver_s" -> driverS, "queries.job_s" -> jobS, "queries.task_cpu_s" -> cpuS,
      "queries.shuffle_bytes" -> shuffle, "queries.spill_bytes" -> spill, "queries.gc_s" -> gcS,
      "queries.jobs" -> jobs.toDouble, "queries.stages" -> stages.toDouble, "queries.tasks" -> tasks.toDouble,
      "queries.cross_query_cache_hits" -> hits.toDouble).foreach { case (n, v) => Layers.set(m, n, v) }

    // three warm passes, each after clearing the cache: untraced, traced,
    // untraced. Cold minus traced warm is the per-plan compile/JIT cost;
    // traced warm minus the mean of the untraced ones (which bracket it, so
    // JIT still settling cancels) is the tracing overhead
    def warm(label: String, traced: Boolean): Double = {
      spark.catalog.clearCache()
      pass(label, traced).map(_.seconds).sum
    }
    val before = warm("warm-1", traced = false)
    val tracedWarm = warm("warm-traced", traced = true)
    val after = warm("warm-2", traced = false)
    Layers.set(m, "queries.cold_minus_warm_s", lat.sum - tracedWarm)
    Layers.set(m, "trace.overhead_s", tracedWarm - (before + after) / 2)
    Crawl.addStageSpans(ctx, querySpans.toSeq)
  }
}
