package graft.ops

import graft.pipeline.{Rollup, SparkTestBase}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** [[Adaptive.materialize]] is the engine's one way to share a derived
  * table between the consumers of a plan: these specs pin that what it
  * materializes stays private to the query that built it, and that no
  * other materialization call grows back in src/main. */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  test("gap fills over the same aggregate share no cached table between queries") {
    // the session is shared with other suites, which may leave caches behind
    spark.catalog.clearCache()
    val agg = Seq(("a", 0, 1.0), ("a", 0, 3.0), ("a", 3, 8.0), ("b", 1, 5.0), ("b", 4, 2.0))
      .toDF("key", "h", "v")
      .groupBy(col("key"), timestamp_seconds(col("h") * 3600L).as("bucket"))
      .agg(avg("v").as("mean"))
    val locf = Rollup.gapFillLocf(agg, 3600L)
      .orderBy("key", "bucket").select("mean").as[Double].collect()
    val linear = Rollup.gapFillLinear(agg, 3600L)
    val interpolated = linear.orderBy("key", "bucket").select("mean").as[Double].collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a materialized table must not be registered with the CacheManager")
    val plan = linear.queryExecution.optimizedPlan
    assert(plan.collect { case r: InMemoryRelation => r }.isEmpty,
      s"the second query must not read the first one's table:\n$plan")
    assert(plan.collect { case r: LogicalRDD => r }.nonEmpty,
      s"the second query must read its own materialized table:\n$plan")
    assert(locf.toSeq == Seq(2.0, 2.0, 2.0, 8.0, 5.0, 5.0, 5.0, 2.0))
    assert(interpolated.toSeq == Seq(2.0, 4.0, 6.0, 8.0, 5.0, 4.0, 3.0, 2.0))
  }

  test("src/main materializes only through Adaptive.materialize and Pipeline.run") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val call = """\.(persist|localCheckpoint|cache)\(""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sites = for {
      f <- files(root) if f.getName.endsWith(".scala")
      path = root.toPath.relativize(f.toPath).toString
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      m <- call.findAllMatchIn(line)
    } yield (path, m.group(1), i + 1)
    val allowed = Set(
      ("graft/ops/Adaptive.scala", "localCheckpoint"), // the helper itself
      ("graft/pipeline/Checkpointing.scala", "cache")) // Pipeline.run's scoped cache
    val stray = sites.filterNot { case (path, kind, _) => allowed((path, kind)) }
    assert(stray.isEmpty, "materialize through Adaptive.materialize instead: " +
      stray.map { case (p, k, l) => s"$p:$l .$k(" }.mkString(", "))
    assert(sites.size == allowed.size, s"expected exactly the allowed sites, got $sites")
  }
}
