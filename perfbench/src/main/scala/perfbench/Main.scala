package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Run settings from the command line. */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: Path,
    expected: Path,
    urls: Option[Int],
    record: Boolean)

/** Everything one workload run shares. */
final class Ctx(val conf: Conf, val spark: SparkSession, val cpus: Int, val sessionS: Double) {
  val tracer = new Tracer(conf.trace, conf.workload)
  val collector = new SparkCollector
  val outcome = new Outcome
  val metrics = new Metrics
  val expected: Map[(String, String), Map[String, String]] = Expected.load(conf.expected)
  val recorded = scala.collection.mutable.ArrayBuffer.empty[String]

  def dir(name: String): Path = Files.createDirectories(conf.work.resolve(name))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One workload run: set up, measure for `--seconds`, check every output,
  * print the metrics as one JSON line. */
object Main {

  val Workloads = Seq("crawl-rollup", "driver-queries")

  private def parse(argv: Array[String]): Conf = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    Conf(workload, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("expected")).toAbsolutePath,
      m.get("urls").map(_.toInt), m.get("record").contains("1"))
  }

  /** The session settings graft.Bench uses, on `local[cpus]`, with every
    * temporary directory inside the run's work directory. */
  def session(cpus: Int, work: Path): SparkSession =
    SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private val SessionKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.files.maxPartitionBytes", "spark.sql.session.timeZone")

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    HeapWatch.install()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, conf.work)
    spark.sparkContext.setLogLevel("WARN")
    // JVM start to a ready session: the part of set-up a run pays once
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val ctx = new Ctx(conf, spark, cpus, sessionS)
    val rt = Runtime.getRuntime
    println("perfbench-session " + Json.obj(
      SessionKeys.map(k => k -> Json.str(spark.conf.get(k, ""))) ++ Seq(
        "task_threads" -> cpus.toString,
        "session_s" -> Json.num(sessionS),
        "heap_max_mb" -> (rt.maxMemory / (1024 * 1024)).toString,
        "jvm_args" -> Json.str(ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.mkString(" ")))))
    conf.workload match {
      case "crawl-rollup" => Crawl.run(ctx)
      case "driver-queries" => DriverQueries.run(ctx)
    }

    if (conf.trace) {
      val path = conf.work.resolve("traces").resolve(s"${conf.workload}-seed${conf.seed}.jsonl")
      ctx.tracer.write(path)
      ctx.log(s"${ctx.tracer.size} spans written to $path")
    }
    if (conf.record) {
      val path = conf.work.resolve(s"expected-${conf.workload}.tsv")
      Files.write(path, (ctx.recorded.mkString("\n") + "\n").getBytes("UTF-8"))
      ctx.log(s"recorded values written to $path")
    }
    ctx.outcome.problems.foreach(p => ctx.log(s"FAILED: $p"))
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> ctx.outcome.correct.toString,
      "attempted" -> ctx.outcome.attempted.toString,
      "failed" -> ctx.outcome.failed.toString,
      "metrics" -> ctx.metrics.json)))
    System.out.flush()
    System.exit(0)
  }
}
