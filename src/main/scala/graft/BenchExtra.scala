package graft

import org.apache.spark.sql.SparkSession

/** Round-6 optimization measurement harness (guide §1: measure first).
  * NOT part of the frozen driver contract — Bench.scala is the canonical
  * benchmark; this main exists to isolate and attribute cost:
  *
  *   sbt "runMain graft.BenchExtra <mode> [args...]"
  *
  * Modes:
  *   sweep <parts1,parts2,...> [queryFilter]
  *     Run each (matching) query at several spark.sql.shuffle.partitions
  *     values, timing fn(spark,dir).count() exactly like Bench. Quantifies
  *     how much of a query's wall time is tiny-task scheduling overhead vs
  *     real work at bench scale.
  *   noop [queryFilter]
  *     Time each query with the noop sink (computes every column; guide
  *     §1.4) alongside the Bench-identical .count() action.
  *   explain <outDir> [queryFilter]
  *     Write .explain("formatted") for each query to <outDir>/<name>.txt.
  *
  * Uses the same session config as Bench (same master/partitions/AQE) so
  * numbers are comparable. */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-local-extra"
        else "/tmp/graft-spark-local-extra")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = if (args.nonEmpty) args(0) else "noop"
    def queriesMatching(filter: Option[String]) =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => filter.forall(n.contains) }

    mode match {
      case "sweep" =>
        val parts = args(1).split(",").map(_.trim.toInt)
        val filt = args.lift(2)
        val names = queriesMatching(filt)
        for (p <- parts) {
          spark.conf.set("spark.sql.shuffle.partitions", p)
          var tot = 0.0
          for ((name, fn) <- names) {
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count() } catch { case _: Throwable => }
            val dt = (System.nanoTime() - t0) / 1e9
            tot += dt
            println(f"[sweep] parts=$p%4d $name%-28s $dt%8.3f s")
          }
          println(f"[sweep] parts=$p%4d TOTAL over ${names.size} queries: $tot%8.2f s")
        }

      case "aqe" =>
        // AQE partition coalescing (guide §2.2) — the runtime-size-derived
        // alternative to a fixed shuffle-partition constant
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        val filt = args.lift(1)
        var tot = 0.0
        for ((name, fn) <- queriesMatching(filt)) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch { case _: Throwable => }
          val dt = (System.nanoTime() - t0) / 1e9
          tot += dt
          println(f"[aqe] $name%-28s $dt%8.3f s")
        }
        println(f"[aqe] TOTAL: $tot%8.2f s")

      case "noaqe" =>
        // measure AQE's own per-stage re-planning overhead at bench scale
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val filt = args.lift(1)
        var tot = 0.0
        for ((name, fn) <- queriesMatching(filt)) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch { case _: Throwable => }
          val dt = (System.nanoTime() - t0) / 1e9
          tot += dt
          println(f"[noaqe] $name%-28s $dt%8.3f s")
        }
        println(f"[noaqe] TOTAL: $tot%8.2f s")

      case "noop" =>
        val filt = args.lift(1)
        for ((name, fn) <- queriesMatching(filt)) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
          catch { case e: Throwable => println(s"[noop] $name ERROR $e") }
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[noop] $name%-28s $dt%8.3f s")
        }

      case "nocodegen" =>
        // measure whole-stage-codegen's compile cost on one-shot queries:
        // each distinct query compiles its own Janino classes on first
        // execution, which at metadata-sized inputs can exceed the
        // interpreted execution cost
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        val filt = args.lift(1)
        var tot = 0.0
        for ((name, fn) <- queriesMatching(filt)) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch { case _: Throwable => }
          val dt = (System.nanoTime() - t0) / 1e9
          tot += dt
          println(f"[nocodegen] $name%-28s $dt%8.3f s")
        }
        println(f"[nocodegen] TOTAL: $tot%8.2f s")

      case "one" =>
        // run one query `reps` times with a per-stage listener — isolates
        // where a single query's wall time goes (scan vs exchange vs agg)
        val qname = args(1)
        val reps = args.lift(2).map(_.toInt).getOrElse(3)
        spark.sparkContext.addSparkListener(Bench.stageListener(println))
        val fn = SparkEntry.queries(qname)
        for (r <- 1 to reps) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          println(f"[one] $qname rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }

      case "explain" =>
        val outDir = args(1)
        val filt = args.lift(2)
        new java.io.File(outDir).mkdirs()
        for ((name, fn) <- queriesMatching(filt)) {
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"$name.txt"),
              plan.getBytes("UTF-8"))
            println(s"[explain] wrote $outDir/$name.txt")
          } catch { case e: Throwable => println(s"[explain] $name ERROR $e") }
        }

      case other =>
        System.err.println(s"unknown mode: $other (sweep|noop|explain)")
    }
    spark.stop()
  }
}
