package graft.ops

import graft.pipeline.SparkTestBase
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenBudget keeps docs in doc_id order until the stratum budget is reached") {
    val docs = Seq(
      // stratum (en, web): 4+4+4 tokens, budget 10 → docs 1,2,3 kept (3 starts
      // at cum 8 < 10, overshoots to 12), doc 4 starts at 12 → dropped
      (1L, "a b c d", "en", "web"),
      (2L, "e f g h", "en", "web"),
      (3L, "i j k l", "en", "web"),
      (4L, "m n o p", "en", "web"),
      // stratum (de, web): independent budget
      (5L, "q r s t u v w x y z a2 b2", "de", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val kept = CorpusOps.tokenBudget(docs, 10L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(kept.keySet == Set(1L, 2L, 3L, 5L), s"got ${kept.keySet}")
    assert(kept(3L) == 12L && kept(5L) == 12L)
  }

  test("decontaminate flags docs sharing a k-gram with the eval set and drops eval docs") {
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5 w6"),       // eval doc
      (1L, "x0 w2 w3 w4 w5 w6 x1"),    // shares 5-gram "w2..w6" → contaminated
      (2L, "w1 w2 w3 w4 zz w6"),       // longest shared run is 4 → clean
      (3L, "p q r s t u")              // disjoint → clean
    ).toDF("doc_id", "text")
    val out = CorpusOps
      .decontaminate(docs, docs.filter($"doc_id" === 0L).select("doc_id"), k = 5)
      .as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false), s"got $out")
  }

  test("shardAssign is a pure function of doc_id: partitioning-invariant, contiguous pos") {
    val docs = (0L until 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = CorpusOps.shardAssign(docs, 16)
      .as[(Long, Int, Int)].collect().sorted.toSeq
    val b = CorpusOps.shardAssign(docs.repartition(7), 16)
      .as[(Long, Int, Int)].collect().sorted.toSeq
    assert(a == b, "shard/pos must not depend on input partitioning")
    assert(a.map(_._1).distinct.size == 200)
    // every shard's positions are exactly 1..size (a valid export manifest)
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq, s"shard $shard pos gap")
    }
    // the multiplicative hash actually spreads: no shard holds >3x its share
    val sizes = a.groupBy(_._2).map(_._2.size)
    assert(sizes.max <= 3 * 200 / 16, s"degenerate shard sizes: $sizes")
  }

  test("stratifiedSample takes exactly n per stratum, deterministically") {
    val docs = (0L until 120L)
      .map(i => (i, s"t$i", if (i % 2 == 0) "en" else "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val s1 = CorpusOps.stratifiedSample(docs, 10)
      .as[(Long, String, String, Int)].collect().sorted.toSeq
    val s2 = CorpusOps.stratifiedSample(docs.repartition(5), 10)
      .as[(Long, String, String, Int)].collect().sorted.toSeq
    assert(s1 == s2, "sample must be partitioning-invariant")
    val byStratum = s1.groupBy(r => (r._2, r._3))
    assert(byStratum.keySet == Set(("en", "web"), ("de", "web")))
    byStratum.foreach { case (k, rows) =>
      assert(rows.size == 10, s"stratum $k size ${rows.size}")
      assert(rows.map(_._4).sorted == (1 to 10).toSeq)
    }
  }

  test("buildCorpus: per-doc decision table with first failing stage and shard manifest") {
    val filler = (1 to 30).map(i => s"w$i").mkString(" ") // quality-passing base
    def doc(i: Long, text: String, lang: String = "en") = (i, text, lang, "web")
    val docs = Seq(
      doc(1L, filler + " unique one extra tokens here"),
      doc(2L, filler + " unique one extra tokens here"),     // exact dup of 1
      doc(3L, "short"),                                      // fails quality
      doc(4L, ("x " * 200).trim),                            // fails repetition
      // eval doc: fully distinct text so only doc 6 shares a 5-gram with it
      doc(5L, (1 to 30).map(i => s"e$i").mkString(" ")),
      doc(6L, filler + " e1 e2 e3 e4 e5 tail") // shares eval 5-gram e1..e5
    ).toDF("doc_id", "text", "lang", "source")
    val out = CorpusOps
      .buildCorpus(docs, docs.filter($"doc_id" === 5L).select("doc_id"),
        budgetPerStratum = 1000L, nShards = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getString(4)), r.getBoolean(5)))).toMap
    assert(out(1L) == ((None, true)), s"got ${out(1L)}")
    assert(out(2L) == ((Some("exact_dup"), false)))
    assert(out(3L) == ((Some("quality"), false)))
    assert(out(4L) == ((Some("repetition"), false)))
    assert(out(5L) == ((Some("eval_doc"), false)))
    assert(out(6L) == ((Some("contaminated"), false)))
    // kept rows carry the same shard/pos the standalone exporter assigns
    val keptIds = out.collect { case (id, (None, true)) => id }.toSeq
    val expectShard = CorpusOps
      .shardAssign(docs.filter($"doc_id".isin(keptIds: _*)).select("doc_id"), 4)
      .as[(Long, Int, Int)].collect().toSet
    val gotShard = CorpusOps
      .buildCorpus(docs, docs.filter($"doc_id" === 5L).select("doc_id"), 1000L, 4)
      .filter($"keep")
      .select($"doc_id", $"shard", $"pos").as[(Long, Int, Int)].collect().toSet
    assert(gotShard == expectShard, s"$gotShard vs $expectShard")
  }

  test("buildCorpus caches only the flag-sized decision table, never text") {
    // a materialized table is a LogicalRDD in the logical plan, so assert
    // there — the physical scan hides inside AQE query stages
    import org.apache.spark.sql.execution.LogicalRDD
    val filler = (1 to 25).map(i => s"w$i").mkString(" ")
    val docs = (1L to 8L)
      .map(i => (i, filler + s" uniq$i extra$i more$i", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val out = CorpusOps.buildCorpus(docs,
      docs.filter($"doc_id" < 0).select("doc_id"),
      budgetPerStratum = 1000L, nShards = 2)
    out.collect()
    val materialized = out.queryExecution.optimizedPlan.collect {
      case r: LogicalRDD => r
    }
    assert(materialized.nonEmpty,
      "the decision table must be materialized (it is consumed three times)")
    materialized.foreach { r =>
      val held = r.output.map(_.name)
      assert(!held.contains("text"),
        s"the table must be flag-sized — text may never be materialized, got $held")
    }
  }

  test("buildCorpus: stratum budget drops later docs with over_budget") {
    val filler = (1 to 25).map(i => s"w$i").mkString(" ")
    val docs = (1L to 4L)
      .map(i => (i, filler + s" uniq$i extra$i more$i", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val out = CorpusOps
      .buildCorpus(docs, docs.filter($"doc_id" < 0).select("doc_id"),
        budgetPerStratum = 60L, nShards = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(4))).toMap
    // 28 tokens/doc: docs 1,2 start under 60 (0, 28), doc 3 starts at 56 —
    // still under — doc 4 starts at 84 -> over budget
    assert(out(1L).isEmpty && out(2L).isEmpty && out(3L).isEmpty, s"got $out")
    assert(out(4L) == Some("over_budget"), s"got $out")
  }

  test("decontaminateStream on a doc stream equals batch decontaminate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (0L, "w1 w2 w3 w4 w5 w6"),
      (1L, "x0 w2 w3 w4 w5 w6 x1"),
      (2L, "w1 w2 w3 w4 zz w6"),
      (3L, "p q r s t u"))
    val evalDocs = data.filter(_._1 == 0L).toDF("doc_id", "text")
    val batch = CorpusOps
      .decontaminate(data.toDF("doc_id", "text"), evalDocs.select("doc_id"), k = 5)
      .as[(Long, Boolean)].collect().toMap
    val mem = MemoryStream[(Long, String)]
    val out = CorpusOps.decontaminateStream(
      mem.toDF.toDF("doc_id", "text"), evalDocs, k = 5)
    val q = out.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      mem.addData(data.filter(_._1 != 0L): _*) // non-eval docs arrive on the stream
      q.processAllAvailable()
      val got = spark.table("decon_stream").as[(Long, Boolean)].collect().toMap
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("decontaminateStream handles a 100k+-gram eval set via the broadcast seam") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // 100 eval docs × 1050 unique tokens → ≥ 100k distinct 5-gram hashes:
    // far past where a literal-array arrays_overlap bloats the generated
    // code; the broadcast variable carries it once per executor instead
    val evalDocs = (0 until 100).map(d =>
        (d.toLong, (0 until 1050).map(i => s"e${d}_$i").mkString(" ")))
      .toDF("doc_id", "text")
    val nGrams = evalDocs
      .select(explode(graft.functions.functions
        .hashed_shingles($"text", 5)).as("g"))
      .distinct().count()
    assert(nGrams >= 100000L, s"eval set must exceed 1e5 grams, got $nGrams")
    // stream docs: 1000 contains an eval 5-gram verbatim; 1001 is clean;
    // 1002 shares 4 of 5 tokens (no full shingle) — clean
    val streamDocs = Seq(
      (1000L, "x y e37_10 e37_11 e37_12 e37_13 e37_14 z"),
      (1001L, "alpha beta gamma delta epsilon zeta"),
      (1002L, "e37_10 e37_11 e37_12 e37_13 q e37_15"))
    val batch = CorpusOps
      .decontaminate(streamDocs.toDF("doc_id", "text")
          .unionByName(evalDocs.select($"doc_id", $"text")),
        evalDocs.select("doc_id"), k = 5)
      .as[(Long, Boolean)].collect().toMap
    val mem = MemoryStream[(Long, String)]
    val q = CorpusOps.decontaminateStream(
        mem.toDF.toDF("doc_id", "text"), evalDocs, k = 5)
      .writeStream.format("memory").queryName("decon_stream_big")
      .outputMode("append").start()
    try {
      mem.addData(streamDocs: _*)
      q.processAllAvailable()
      val got = spark.table("decon_stream_big")
        .as[(Long, Boolean)].collect().toMap
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got == Map(1000L -> true, 1001L -> false, 1002L -> false))
    } finally q.stop()
  }

  test("weightedSample ranks by the Efraimidis–Spirakis key and drops w<=0") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 30L).map(d =>
      (d, "en", "web", if (d == 7L) 0L else d * 100L)) :+
      ((31L, "en", "web", -5L)) :+ ((40L, "de", "web", 1000L))
    val df = docs.toDF("doc_id", "lang", "source", "n_chars")
    // reproduce the key exactly: u = (knuth-hash(id)+1)/2^32, k = ln(u)/w
    def key(d: Long, w: Long): Double =
      StrictMath.log(((d * 2654435761L) % 4294967296L + 1).toDouble
        / 4294967296.0) / w.toDouble
    val wantEn = docs.filter(r => r._2 == "en" && r._4 > 0)
      .map(r => (key(r._1, r._4), r._1))
      .sortBy { case (k, d) => (-k, d) }.take(5).map(_._2).toSet
    val out = CorpusOps.weightedSample(df, col("n_chars"), n = 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(5))).toSeq
    val en = out.filter(_._1 == "en").map(_._2).toSet
    assert(en == wantEn, s"engine $en vs hand-ranked $wantEn")
    assert(out.count(_._1 == "de") == 1 && out.size == 6,
      "singleton stratum samples itself; zero/negative weights never sample")
    assert(!en.contains(7L) && !en.contains(31L))
    // weighting is real: under the uniform-u hash, the top-5 of 29 docs
    // whose weights grow 100x..3000x must skew heavy
    val meanW = docs.filter(r => en.contains(r._1)).map(_._4).sum / 5.0
    assert(meanW > 1500.0, s"weighted sample must skew heavy, mean w $meanW")
  }

  test("percentileGate keeps the best keepFrac per group, RANK-tied") {
    val df = Seq(
      ("en", 1L, 10.0), ("en", 2L, 20.0), ("en", 3L, 20.0),
      ("en", 4L, 30.0), ("en", 5L, 40.0),
      ("de", 6L, 5.0)
    ).toDF("lang", "doc_id", "ppl")
    val out = CorpusOps.percentileGate(df, col("lang"), col("ppl"), 0.5)
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((0.0, true)))
    assert(out(2L) == ((0.25, true)) && out(3L) == ((0.25, true)),
      "ties share a RANK and its percentile")
    assert(out(4L) == ((0.75, false)) && out(5L) == ((1.0, false)))
    assert(out(6L) == ((0.0, true)), "singleton group ranks 0 and is kept")
  }
}
