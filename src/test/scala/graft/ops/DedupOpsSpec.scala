package graft.ops

import org.apache.spark.sql.functions._
import graft.pipeline.SparkTestBase

class DedupOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("native SimHash64 expression equals the 64-aggregate Column composition") {
    val both = docs.select(
      graft.functions.functions.simhash64(col("text")).as("fast"),
      HofReferences.simhashFromHashes(HofReferences.tokenHashes(col("text"))).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("native MinHashSig equals the HOF Column composition") {
    import graft.functions.functions.minhash_sig
    val both = docs.select(
      minhash_sig(col("text"), 3, 16).as("fast"),
      HofReferences.minhashSignature(HofReferences.shingles(col("text"), 3), 16).as("ref"))
    assert(both.filter(to_json(col("fast")) =!= to_json(col("ref"))).count() == 0)
  }

  test("native sorted-hash jaccard equals string-set jaccard") {
    import graft.functions.functions.{hashed_shingles, sorted_jaccard}
    val sample = docs.limit(40).select(col("doc_id"), col("text"),
      HofReferences.shingles(col("text"), 3).as("sh_str"),
      hashed_shingles(col("text"), 3).as("sh_hash"))
    val a = sample.select(col("doc_id").as("ida"), col("sh_str").as("sa"), col("sh_hash").as("ha"))
    val b = sample.select(col("doc_id").as("idb"), col("sh_str").as("sb"), col("sh_hash").as("hb"))
    val pairs = a.join(b, col("ida") < col("idb"))
      .withColumn("j_str",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          greatest(size(array_union(col("sa"), col("sb"))), lit(1)))
      .withColumn("j_hash", sorted_jaccard(col("ha"), col("hb")))
    assert(pairs.filter(abs(col("j_str") - col("j_hash")) > 1e-12).count() == 0)
  }

  test("exact dedup keeps first doc per identical text") {
    val withDup = docs.select("doc_id", "text")
      .union(docs.select(($"doc_id" + 100000).as("doc_id"), $"text"))
    val kept = DedupOps.exact(withDup)
    assert(kept.count() == docs.count())
    assert(kept.filter($"doc_id" >= 100000).count() == 0)
  }

  test("minhash LSH finds exact clones at jaccard 1.0 and respects the threshold") {
    val base = docs.select("doc_id", "text").limit(100)
    val clones = base.select(($"doc_id" + 100000).as("doc_id"), $"text")
    val pairs = DedupOps.minhashLshPairs(base.union(clones), threshold = 0.5).cache()
    val clonePairs = pairs.filter($"doc_b" === $"doc_a" + 100000)
    assert(clonePairs.count() == 100)
    assert(clonePairs.filter($"jaccard" =!= 1.0).count() == 0)
    assert(pairs.filter($"jaccard" < 0.5).count() == 0)
    pairs.unpersist()
  }

  test("near-duplicates (small token edits) survive minhash LSH") {
    val base = docs.select("doc_id", "text").limit(50)
    // mutate ~1 token: append one word — high shingle overlap remains
    val nearDups = base.select(($"doc_id" + 100000).as("doc_id"),
      concat($"text", lit(" appended")).as("text"))
    val pairs = DedupOps.minhashLshPairs(base.union(nearDups), threshold = 0.5)
    val found = pairs.filter($"doc_b" === $"doc_a" + 100000).count()
    assert(found >= 40, s"only $found of 50 near-dup pairs found")
  }

  test("simhash near-dup pairs: clones collide at hamming 0") {
    val base = docs.select("doc_id", "text").limit(60)
    val clones = base.select(($"doc_id" + 100000).as("doc_id"), $"text")
    val pairs = DedupOps.simhashPairs(base.union(clones), maxHamming = 3)
    assert(pairs.filter($"doc_b" === $"doc_a" + 100000 && $"hamming" === 0).count() == 60)
  }

  test("connectedComponents converges to min-id labels on chains, cliques, and singletons") {
    import org.apache.spark.sql.functions.col
    // graph: chain 1-2-3-4-5 (diameter 4, needs >1 round), clique {10,11,12},
    // pair {20,21}, singletons 30, 31
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("a", "b").repartition(4)
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L, 30L, 31L)
      .toDF("node").repartition(3)
    val out = DedupOps.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 31L)
    assert(out == expect, s"got $out")
  }

  test("connectedComponents handles deep chains and relay-only endpoints") {
    import org.apache.spark.sql.functions.col
    // a 120-node chain has diameter 119: pure neighbour propagation would
    // need 119 rounds and silently split at maxIter; pointer jumping must
    // converge within the default 25
    val chain = (1L until 120L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 120L).toDF("node")
    val out = DedupOps.connectedComponents(nodes, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 120 && out.values.forall(_ == 1L),
      s"chain must collapse to component 1 (got ${out.values.toSet})")
    // endpoints absent from `nodes` still relay connectivity: 2-1-3 with
    // node 1 missing from the node list must still join 2 and 3
    val out2 = DedupOps.connectedComponents(
        Seq(2L, 3L).toDF("node"), Seq((1L, 2L), (1L, 3L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $out2")
  }

  test("connectedComponents sum-convergence handles zero ids and late merges") {
    // r6: convergence is detected via the monotone sum(comp) invariant
    // instead of a label-diff join — pin it on a graph whose min label is 0
    // (contributes nothing to the sum) and whose chain forces several
    // rounds, so a premature "sum unchanged" would freeze wrong labels
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (0L to 40L).toDF("node")
    val out = DedupOps.connectedComponents(nodes, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 41 && out.values.forall(_ == 0L),
      s"chain with min id 0 must collapse to component 0 (got ${out.values.toSet})")
  }

  test("dedupPipeline (LSH candidate path) equals exact-closure components") {
    // independent expected value: exact O(n²) string-shingle Jaccard pairs
    // at the same threshold, closed over the same component op — any LSH
    // recall miss or verification drift would split/merge a component
    val sh = docs.select(col("doc_id"), HofReferences.shingles(col("text"), 3).as("s"))
    val a = sh.select(col("doc_id").as("a"), col("s").as("sa"))
    val b = sh.select(col("doc_id").as("b"), col("s").as("sb"))
    val exactPairs = a.join(b, col("a") < col("b"))
      .withColumn("j", size(array_intersect(col("sa"), col("sb"))).cast("double") /
        greatest(size(array_union(col("sa"), col("sb"))), lit(1)))
      .filter(col("j") >= 0.8).select("a", "b")
    val expected = DedupOps
      .connectedComponents(docs.select(col("doc_id").as("node")), exactPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = DedupOps.dedupPipeline(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(t => t._1 -> t._2).toMap == expected)
    assert(got.forall { case (id, canon, keep) => keep == (id == canon) })
    // the corpus plants real near-dup groups — the pipeline must find them
    assert(got.count { case (_, _, keep) => !keep } > 0)
  }

  test("dedupReport aggregates the pipeline verdicts per stratum") {
    // the report is exactly the pipeline's keep flags joined to the
    // stratum column and counted — recompute that from the pipeline
    // output itself and require every source to appear
    val verdicts = DedupOps.dedupPipeline(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val bySource = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._2)
      .map { case (s, rows) =>
        val n = rows.length.toLong
        val d = rows.count(r => !verdicts(r._1)).toLong
        s -> ((n, d))
      }
    val got = DedupOps.dedupReport(docs, col("source")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == bySource.keySet)
    for ((s, (n, d)) <- bySource) {
      assert(got(s)._1 == n && got(s)._2 == d, s"source $s: ${got(s)} vs ($n, $d)")
      assert(got(s)._3 == BigDecimal(d.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"source $s rate")
    }
  }

  test("normalizedDedup collapses case/whitespace variants to one canonical doc") {
    val d = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),        // same after fold+collapse
      (3L, "  HELLO\tWORLD \n"),  // same after trim too
      (4L, "hello worlds")        // distinct
    ).toDF("doc_id", "text")
    val out = DedupOps.normalizedDedup(d).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getLong(r.fieldIndex("canonical")), r.getBoolean(r.fieldIndex("keep"))))).toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)) && out(3L) == ((1L, false)), s"got $out")
    assert(out(4L) == ((4L, true)))
  }

  test("normalizedDedupStream keeps the first arrival per digest across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = DedupOps.normalizedDedupStream(mem.toDF.toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("norm_dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "Hello  World"), (4L, "hello worlds"))
      q.processAllAvailable()
      // duplicates arriving in a LATER batch must hit the state store
      mem.addData((2L, "hello world"), (3L, "  HELLO\tWORLD \n"), (5L, "fresh text"))
      q.processAllAvailable()
      val kept = spark.table("norm_dedup_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L, 5L), s"got $kept")
      // stream's survivor set == batch canonical set when arrival order is
      // doc_id order (first-seen == min-id)
      val batchKeep = DedupOps.normalizedDedup(Seq(
          (1L, "Hello  World"), (2L, "hello world"), (3L, "  HELLO\tWORLD \n"),
          (4L, "hello worlds"), (5L, "fresh text")).toDF("doc_id", "text"))
        .filter($"keep").select("doc_id").as[Long].collect().toSet
      assert(kept == batchKeep, s"stream $kept vs batch $batchKeep")
    } finally q.stop()
  }

  test("q16/q18 oracle regime holds: every true pair sits where LSH recall is complete") {
    // The q16/q18 DuckDB oracles are EXACT all-pairs ground truths; they are
    // valid only while every true pair sits deep in the high-similarity
    // regime (J >= 0.88 for 4x4-band MinHash; cos ~ 1.0 identical clones for
    // RHP chunks). If the testdata generator ever changes, this spec fails
    // BEFORE the driver's hash gate does — re-measure recall or drop the
    // oracles (the q55 exact-closure playbook).
    import graft.functions.functions.{hashed_shingles, sorted_jaccard}
    val base = docs.select(col("doc_id"), col("text"))
    val uni = base.union(
      base.select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text")))
    val sh = uni.select(col("doc_id"), hashed_shingles(col("text"), 3).as("sh"))
    val border = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(sorted_jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.5 && col("j") < 0.88)
      .count()
    assert(border == 0L,
      s"$border text pair(s) in J [0.5, 0.88) — 4x4-band recall is no longer " +
        "structurally complete; re-validate the q16 oracle")

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val uniE = emb.union(emb.select(
      (col("vec_id") + lit(1000000000L)).as("vec_id"), col("embedding")))
    val borderE = uniE.as("a").join(uniE.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(graft.ops.SimilarityOps.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= 0.9 && col("c") < 0.999999)
      .count()
    assert(borderE == 0L,
      s"$borderE embedding pair(s) in cos [0.9, 1) — identical-clone recall " +
        "no longer covers the q18 oracle; re-validate")
  }

  test("corpus guard: no text contains a whitespace char where the three tokenizers diverge") {
    // Three tokenizers must agree for the token-level oracles to be valid:
    // the engine's Java-regex \s+ (TextOps.tokens -> q06-q08, q22, ...),
    // the native SimHash64's Character.isWhitespace (q17), and the DuckDB
    // mirrors' RE2 \s. They differ exactly on {\x0B, \x1C-\x1F} plus the
    // Unicode space separators Character.isWhitespace accepts — so the
    // oracles stay valid only while no document contains one. Checked at
    // the fixture scale AND the driver's sf0.01 gate scale.
    val divergent = "[\\x0B\\x1C-\\x1F\\u1680\\u2000-\\u200A\\u2028\\u2029\\u205F\\u3000]"
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val offenders = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .where(col("text").rlike(divergent))
        .count()
      assert(offenders == 0L,
        s"$sf: $offenders doc(s) contain a divergent whitespace char — the " +
          "q17/q22 (and token-stat) oracle tokenization mirrors are no longer exact")
    }
  }
}
