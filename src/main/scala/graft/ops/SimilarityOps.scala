package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`Array[Float]`).
  * Baseline: brute-force cosine top-k with the small query side broadcast.
  * Scale path: random-hyperplane LSH bucketing so candidate generation is a
  * bucket-local equi-join instead of a full cross join. */
object SimilarityOps {

  /** Cosine similarity of two float-array columns — native single-pass
    * Catalyst expression, bit-identical to the zip_with + aggregate
    * composition the specs keep as its reference (same sequential double
    * folds). */
  def cosine(a: Column, b: Column): Column = graft.functions.vector.cosine_f(a, b)

  /** Brute-force cosine top-k: queries × corpus with the query side
    * broadcast (no shuffle of the corpus), ranked per query. */
  def bruteForceTopK(
      corpus: DataFrame, // (vec_id, embedding)
      queries: DataFrame, // (vec_id, embedding)
      k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Cross-lingual nearest neighbours — the BITEXT-MINING probe (the
    * Artetxe & Schwenk 2019 margin-mining shape): for each query vector,
    * the top-k most-similar vectors whose document LANGUAGE differs from
    * the query's — translation/near-translation candidates the
    * shingle-based dedup passes are blind to. `meta` supplies (doc_id,
    * lang) with doc_id ≡ vec_id.
    *
    * Scale shape: [[bruteForceTopK]]'s discipline — the query side (plus
    * its langs) is broadcast, the corpus side streams through one scored
    * pass with the language predicate applied MAP-SIDE (no corpus
    * shuffle); the rank window partitions per query over the top-k
    * survivors. For an all-docs query side at 100 TB, bucket with
    * [[rhpSignature]] first, exactly like the near-dup path.
    *
    * METADATA CONTRACT: both sides inner-join `meta` on vec_id ≡ doc_id,
    * so a query (or corpus) vector with no (doc_id, lang) row is silently
    * DROPPED — an empty result for a query can mean "no cross-lingual
    * neighbours" or "query had no metadata". Callers needing to
    * distinguish should anti-join their query set against `meta` first;
    * the q152 corpus guarantees 1:1 vec↔doc coverage. */
  def crossLingualTopK(
      corpus: DataFrame, // (vec_id, embedding)
      meta: DataFrame, // (doc_id, lang)
      queries: DataFrame, // (vec_id, embedding)
      k: Int): DataFrame = {
    val langOf = meta.select(col("doc_id").as("vec_id"), col("lang"))
    val q = queries.join(langOf, "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("lang").as("q_lang"))
    val c = corpus.join(langOf, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("lang").as("n_lang"))
    val scored = c.join(broadcast(q), col("q_lang") =!= col("n_lang"))
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("n_lang").as("neighbor_lang"), col("sim"), col("rank"))
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits packed into a long
    * (native single-pass expression). */
  def rhpSignature(emb: Column, nBits: Int = 16): Column =
    graft.functions.vector.rhp_sig(emb, nBits)

  /** LSH-bucketed approximate near-duplicate pairs: same-signature vectors
    * are candidates (multi-probe over 4-bit chunks), verified by exact
    * cosine >= threshold. */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double = 0.9, nBits: Int = 32,
      maxBucketSize: Int = 256): DataFrame = {
    val withSig = corpus.select(col("vec_id"), col("embedding"),
      rhpSignature(col("embedding"), nBits).as("sig"))
    // 8-bit chunks: candidates collide when any chunk matches exactly
    // (pigeonhole covers hamming <= nChunks-1 over the signature); buckets
    // capped like the MinHash path to bound hot-key fan-out
    val chunksRaw = withSig.select(col("vec_id"), col("embedding"),
      explode(array((0 until nBits / 8).map(c =>
        concat_ws(":", lit(c), shiftright(col("sig"), c * 8).bitwiseAND(lit(0xffL)))): _*))
        .as("chunk"))
    val chunks = DedupOps.capBuckets(chunksRaw, "chunk", maxBucketSize)
    val a = chunks.select(col("chunk"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = chunks.select(col("chunk"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("chunk"))
      .filter(col("vec_a") < col("vec_b"))
      // score BEFORE deduping band collisions: sim is deterministic per
      // pair, so duplicates agree; the threshold then prunes losers on the
      // map side and the dedup exchange carries only (id, id, sim) rows —
      // deduping first would drag the embedding arrays through the shuffle
      // and force the aggregate into SortAggregate (array buffers are not
      // hash-aggregable)
      .withColumn("sim", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
      .dropDuplicates("vec_a", "vec_b")
  }

  /** End-to-end EMBEDDING near-duplicate dedup (the SemDeDup shape,
    * Abbas et al. 2023): RHP-LSH candidate pairs at cosine >= threshold →
    * [[graft.ops.DedupOps.connectedComponents]] → one canonical vector per
    * component (min vec_id). The embedding-side counterpart of the text
    * [[graft.ops.DedupOps.dedupPipeline]] — run on document embeddings to
    * drop SEMANTIC duplicates that share no shingles (translations,
    * templated rewrites) which the MinHash pass cannot see; transitive
    * closure merges chains a ≈ b ≈ c even when cos(a, c) itself is below
    * the threshold, exactly like the text pipeline.
    *
    * Scale shape: inherits lshNearDupPairs' capped-bucket id-only joins
    * (embeddings never ride the dedup exchange) and connectedComponents'
    * O(log diameter) pointer-jumping rounds — no stage is O(n²) in
    * vectors.
    *
    * Output: `(vec_id, canonical, keep)` — `keep` = true on the canonical
    * row of each near-dup component. */
  def embeddingDedupPipeline(
      corpus: DataFrame,
      threshold: Double = 0.95,
      nBits: Int = 32,
      maxBucketSize: Int = 256): DataFrame = {
    val pairs = lshNearDupPairs(corpus, threshold, nBits, maxBucketSize)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
    DedupOps.connectedComponents(corpus.select(col("vec_id").as("node")), pairs)
      .select(col("node").as("vec_id"), col("comp").as("canonical"),
        (col("node") === col("comp")).as("keep"))
  }

  /** Deterministic seed centroids: the `nCentroids` corpus vectors with the
    * smallest id-hash, as double rows. One tiny driver collect — the
    * centroid table is O(nCentroids × dim) and feeds a broadcast-embedded
    * assignment expression (no cross join, no global window). */
  private def seedCentroids(corpus: DataFrame, nCentroids: Int): Array[Array[Double]] =
    corpus
      .withColumn("h", pmod(xxhash64(col("vec_id")), lit(1000000007L)))
      .orderBy("h").limit(nCentroids)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** Lloyd iterations over the corpus: reassign (map-side, native argmax
    * expression), then per-dimension mean via one hash-aggregate; empty
    * clusters keep their previous centroid. */
  private def lloydIterate(corpus: DataFrame, cents: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    import graft.functions.vector.nearest_centroids
    var current = cents
    for (_ <- 0 until iters) {
      val means = corpus
        .withColumn("cent_id", element_at(nearest_centroids(col("embedding"), current, 1), 1))
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
      val next = current.map(_.clone())
      for (r <- means) next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      current = next
    }
    current
  }

  /** IVF-flat style ANN: corpus assigned to its nearest centroid (seed
    * centroids refined by `lloydIters` k-means steps); each query probes its
    * own `nProbe` nearest centroids' inverted lists only. Assignment is a
    * single codegen'd expression over a broadcast centroid matrix. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2): DataFrame = {
    import graft.functions.vector.nearest_centroids
    val cents = lloydIterate(corpus, seedCentroids(corpus, nCentroids), lloydIters)

    val corpusLists = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .withColumn("cent_id", element_at(nearest_centroids(col("c_emb"), cents, 1), 1))
    val queryProbes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("cent_id", explode(nearest_centroids(col("q_emb"), cents, nProbe)))

    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    corpusLists.join(broadcast(queryProbes), Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Symmetric int8 scalar quantization of the embedding column — the 4×
    * storage/bandwidth compressor an at-scale embedding store applies
    * before ANN search (codes are rescanned cheap; full floats stay in cold
    * storage). Per-vector scale = max |component|; code = ⌊v·127/scale +
    * 0.5⌋ (written as floor(x+0.5), NOT round(), because Spark and DuckDB
    * disagree on round-half semantics but agree bit-for-bit on floor).
    * Zero vectors quantize to all-zero codes with scale 0.
    *
    * Output per vector: the quantization `scale`, the code checksum
    * `sum_code` (pins every code exactly — any off-by-one in any component
    * breaks the oracle hash), and `max_err`, the worst per-component
    * reconstruction error |code·scale/127 − v| — spec-bounded by
    * scale/254 + 1 ulp, the guarantee that makes the compressed scan safe.
    *
    * Scale shape: pure per-row array math fused into the scan — no shuffle,
    * no UDF; at 100 TB this is scan-bandwidth-bound, as a compressor
    * should be. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val vecD = transform(col("embedding"), v => v.cast("double"))
    val withScale = embeddings
      .select(col("vec_id"), vecD.as("e"))
      .withColumn("scale", array_max(transform(col("e"), v => abs(v))))
    val codes = when(col("scale") === 0.0,
        transform(col("e"), _ => lit(0L)))
      .otherwise(transform(col("e"),
        v => floor(v * lit(127.0) / col("scale") + lit(0.5)).cast("long")))
    val err = zip_with(col("codes"), col("e"),
      (c, v) => abs(c.cast("double") * col("scale") / lit(127.0) - v))
    withScale
      .withColumn("codes", codes)
      // two selects: aliasing round(scale) AS "scale" in the same list
      // would LATERALLY shadow the child's scale inside the err lambda
      // (Spark 4 lateral column aliases win the name collision), silently
      // computing errors against the 6-dp scale
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("sum_code"),
        array_max(err).as("max_err"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale"),
        col("sum_code"),
        round(col("max_err"), 9).as("max_err"))
  }
}
