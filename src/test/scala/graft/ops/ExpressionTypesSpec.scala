package graft.ops

import graft.pipeline.SparkTestBase
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** Every custom Catalyst expression declares its input types
  * (GraftExpectsInputTypes), so a wrong-typed column fails at ANALYSIS time
  * with DATATYPE_MISMATCH instead of an executor-side ClassCastException. */
class ExpressionTypesSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val strings = Seq(("a", "some text here")).toDF("id", "text")
  private lazy val doubles = Seq(("a", Array(1.0, 2.0))).toDF("id", "emb")
  private lazy val floats = Seq(("a", Array(1.0f, 2.0f))).toDF("id", "emb")

  private def analysisFails(f: => org.apache.spark.sql.DataFrame): Unit = {
    val e = intercept[AnalysisException](f.queryExecution.analyzed)
    assert(e.getMessage.toUpperCase.contains("DATATYPE_MISMATCH"),
      s"expected DATATYPE_MISMATCH, got: ${e.getMessage.take(200)}")
  }

  test("wrong-typed columns fail at analysis, right-typed columns analyze") {
    import graft.functions.functions._
    import graft.functions.vector._

    // double[] where float[] is expected
    analysisFails(doubles.select(cosine_f(col("emb"), col("emb"))))
    analysisFails(doubles.select(rhp_sig(col("emb"), 16)))
    analysisFails(doubles.select(
      nearest_centroids(col("emb"), Array(Array(1.0, 0.0)), 1)))
    // non-string where text is expected
    analysisFails(floats.select(simhash64(col("emb"))))
    analysisFails(floats.select(hashed_shingles(col("emb"), 3)))
    analysisFails(floats.select(minhash_sig(col("emb"), 3, 8)))
    // non-long-array jaccard
    analysisFails(strings.select(sorted_jaccard(col("text"), col("text"))))

    // and the correctly-typed forms still analyze + run
    assert(floats.select(cosine_f(col("emb"), col("emb"))).collect()(0).getDouble(0) > 0.99)
    assert(strings.select(simhash64(col("text"))).collect().length == 1)
  }

  test("ordered-extremum aggregate rejects unorderable order columns at analysis") {
    import graft.functions.OrderedAggregates._
    // a map column is not orderable by GreaterThan/LessThan → the
    // aggregate's comparison expressions fail analysis, not execution
    // (arrays ARE orderable in Spark, so they analyze fine)
    analysisFails(strings.groupBy("id")
      .agg(firstByOrd(col("id"), map(col("id"), col("id")), col("id"))))
    // orderable (long, double) order columns analyze and run
    val df = Seq(("a", 2L, 1.0, 10.0), ("a", 1L, 9.0, 20.0)).toDF("k", "ts", "tie", "v")
    val r = df.groupBy("k")
      .agg(firstByOrd(col("v"), col("ts"), col("tie")).as("first"),
        lastByOrd(col("v"), col("ts"), col("tie")).as("last"))
      .collect()(0)
    assert(r.getDouble(1) == 20.0 && r.getDouble(2) == 10.0)
  }
}
