package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for web-scale training data. All set-similarity
  * paths go shingles → MinHash → LSH band buckets → bucket-local candidate
  * join → exact verification, so the shuffle is O(docs·bands), never the
  * O(n²) cross join. */
object DedupOps {

  /** Skip LSH buckets larger than `cap`: a degenerate bucket of size B
    * yields B² candidate pairs, so one hot key can dominate the whole job
    * (classic LSH skew). Capping trades bounded recall loss on pathological
    * buckets for a hard bound on join fan-out — pairs inside a dropped
    * bucket usually still collide in another band.
    *
    * Implemented as a window count over one `key`-partitioned exchange
    * (r6 optimization, guide §2.4) instead of the former groupBy-count +
    * left-semi-join: the semi-join shape evaluated `df` TWICE (count build
    * + probe), and because the capped table feeds a self-join downstream,
    * the expensive signature scan below it ran up to 3× per LSH call. The
    * window shape puts ONE Exchange(key) under the cap; both self-join
    * sides canonicalize to the same exchange and Spark's ReuseExchange
    * computes the signature scan once. Skew exposure is unchanged: the
    * bucket-local candidate join already co-locates each bucket on one
    * partition, and oversized buckets are dropped right after counting.
    * The isNotNull filter reproduces the semi-join's null-key drop. */
  private[ops] def capBuckets(df: DataFrame, key: String, cap: Int): DataFrame =
    df.filter(col(key).isNotNull)
      .withColumn("_bucket_n",
        count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(col("_bucket_n") <= cap)
      .drop("_bucket_n")

  /** Exact dedup: first doc_id wins per byte-identical text. At scale this
    * is one hash-shuffle on a 64-bit digest, never on the full text. */
  def exact(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(xxhash64(col("text"))).orderBy(col("doc_id"))
    documents
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Word k-shingles as a deduped array column. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = split(trim(text), "\\s+")
    array_distinct(
      filter(
        transform(toks, (_, i) => concat_ws(" ", slice(toks, i + lit(1), lit(k)))),
        (s: Column) => size(split(s, " ")) === k))
  }

  /** LSH band keys: signature split into `bands` bands of `rows` hashes,
    * each band hashed to one bucket key. */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",", slice(sig, b * lit(rows) + lit(1), lit(rows))), b))

  /** MinHash+LSH near-duplicate pairs verified with exact shingle Jaccard.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b. */
  def minhashLshPairs(
      documents: DataFrame,
      k: Int = 3,
      nPerms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = 64): DataFrame = {
    // Native single-pass expressions (graft.functions.ShingleKernel) do the
    // shingling/min-hashing/jaccard — the equivalent built-in HOF chains are
    // interpreted per element and measured ~50× slower at sf0.1. The band
    // self-join ships ONLY (band, id) pairs — at web scale the shingle
    // arrays are by far the widest payload — and shingle-hash sets are
    // re-attached for exact verification afterwards.
    import graft.functions.functions.{hashed_shingles, minhash_sig, sorted_jaccard}
    val withSh = documents.select(col("doc_id"), hashed_shingles(col("text"), k).as("sh"))
    val banded = documents
      .select(col("doc_id"), minhash_sig(col("text"), k, nPerms).as("sig"))
      .select(col("doc_id"), explode(lshBandKeys(col("sig"), bands, nPerms / bands)).as("band"))
    val cand = capBuckets(banded, "band", maxBucketSize)
      .select(col("band"), col("doc_id").as("doc_a"))
      .join(capBuckets(banded, "band", maxBucketSize)
        .select(col("band"), col("doc_id").as("doc_b")), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", round(sorted_jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash-64 of raw text — delegates to the native single-pass Catalyst
    * expression (one data pass, stays in whole-stage codegen). */
  def simhash(text: Column): Column = graft.functions.functions.simhash64(text)

  /** SimHash near-dup pairs: bucket on 16-bit chunks (hamming-distance <= 3
    * pairs collide in >= 1 of 4 chunks by pigeonhole), verify with exact
    * hamming distance. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val withH = documents.select(col("doc_id"), simhash(col("text")).as("sim"))
    val chunks = withH.select(col("doc_id"), col("sim"),
      explode(array((0 until 4).map(c =>
        concat_ws(":", lit(c), shiftright(col("sim"), c * 16).bitwiseAND(lit(0xffffL)))): _*))
        .as("chunk"))
    val a = chunks.select(col("chunk"), col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = chunks.select(col("chunk"), col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Connected components over an undirected similarity-pair list — the
    * dedup-GROUPS step a training-data pipeline runs after near-dup pair
    * mining (keep one canonical doc per component). Each round combines
    * min-label propagation to neighbours with POINTER JUMPING (a node also
    * adopts its current label's own label), so convergence is
    * O(log diameter) rounds, not diameter — a 25-round cap covers any
    * realistic graph, and exhausting it THROWS instead of returning
    * silently split components.
    *
    * Scale shape: each round is two keyed equi-joins plus one hash
    * aggregate — no collect; every round's result is materialized
    * ([[Adaptive.materialize]]) so the plan lineage stays flat instead of nesting one join tree per
    * iteration (superseded label tables are reclaimed by Spark's
    * ContextCleaner once the driver drops their references). Convergence
    * is detected distributedly (an isEmpty probe on changed labels).
    *
    * Input: `nodes(node)`, `pairs(a, b)`. The label universe is
    * nodes ∪ pair endpoints, so endpoints missing from `nodes` still relay
    * connectivity (and appear in the output). Output: `(node, comp)` with
    * comp = min node id of the component; isolated nodes keep themselves. */
  def connectedComponents(
      nodes: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // repartition on src BEFORE materializing: the per-round propagate join
    // keys on src, and materialize keeps physical partitioning, so
    // the edge side of that join never re-shuffles after round 0 (the
    // distinct()'s (src, dst) partitioning would otherwise force one edge
    // exchange EVERY round — r6 plan diff: 2 exchanges/round → 1).
    // Symmetrize with ONE explode instead of union(select(a,b),
    // select(b,a)): the union shape evaluated the whole `pairs` subtree —
    // for the dedup pipelines that is the LSH candidate join plus the
    // exact-verification pass — TWICE, once per branch (the swapped
    // projections canonicalize differently, so no exchange reuse above
    // the pairs plan's last exchange). The explode emits both directions
    // from a single evaluation; distinct() then dedupes exactly as before.
    val edges = Adaptive.materialize(pairs
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .repartition(col("src")))
    // seed labels at min(node, min neighbour) — exactly the min-fold a
    // first identity-labelled round would compute, so the loop starts one
    // round ahead at the cost of folding the neighbour min into the same
    // aggregate that already deduplicates the node universe. Same fixpoint
    // (seed ≥ component-min pointwise, monotone descent unchanged).
    var labels = Adaptive.materialize(nodes.select(col("node"), col("node").as("comp"))
      .union(edges.select(col("src").as("node"), col("src").as("comp")))
      .union(edges.select(col("dst").as("node"), col("src").as("comp")))
      .groupBy("node").agg(min("comp").as("comp")))
    // Convergence via a MONOTONE invariant instead of a per-round
    // label-diff join: comp is non-increasing per node (min-fold and jump
    // both take minima over a superset that includes the current value) and
    // the node set is fixed, so sum(comp) is strictly decreasing until the
    // fixed point and equal exactly at it. That turns the old third job per
    // round (next ⋈ labels diff + isEmpty probe, two extra exchanges) into
    // a near-free aggregate that also computes the round result.
    // decimal(38,0): exact at any id/node scale (no long overflow).
    def compSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
    // the initial convergence aggregate doubles as the label-table census:
    // size the loop's exchanges from the REAL row count (the AQE-coalescing
    // sizing the session has disabled), not the outer query's input-derived
    // width — label/edge rows are ids, ~32 B each, so a million labels fit
    // comfortably in one 128 MB-class partition. Floor 2 keeps the loop off
    // literal single-partition plans; the outer conf is restored after the
    // loop (materialized results keep their partitioning regardless).
    val spark = labels.sparkSession
    val init = labels.agg(
      sum(col("comp").cast("decimal(38,0)")), count(lit(1))).head
    if (init.getLong(1) == 0L) return labels // no nodes, no edges: empty result
    var prevSum = init.getDecimal(0)
    val outerParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(2L, init.getLong(1) / 4000000L).toString)
    var converged = false
    var it = 0
    try {
      while (!converged && it < maxIter) {
        val prop = edges.join(labels, edges("src") === labels("node"))
          .select(col("dst").as("node"), col("comp"))
        // the jump join's two sides both read the fold; its shuffle stage is
        // computed once and re-read (exchange reuse), so the round's result
        // is the only table materialized
        val folded = labels.union(prop)
          .groupBy("node").agg(min("comp").as("comp"))
        // pointer jump: relabel through the label's own current label (the
        // renamed copy keeps the self-join's attributes unambiguous)
        val jump = folded.toDF("jn", "jc")
        val next = Adaptive.materialize(folded
          .join(jump, folded("comp") === jump("jn"), "left")
          .select(folded("node"),
            least(folded("comp"), coalesce(jump("jc"), folded("comp"))).as("comp")))
        val s = compSum(next)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        labels = next
        it += 1
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", outerParts)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "raise maxIter (components deeper than ~2^25 hops)")
    labels
  }

  /** End-to-end near-duplicate DEDUP pipeline — the at-scale composition a
    * training-data pipeline runs nightly: MinHash-LSH candidate mining
    * (banded, bucket-capped, id-only band join) → exact shingle-Jaccard
    * verification → [[connectedComponents]] → one canonical document per
    * component (min doc_id). q53 pins the component math against an exact
    * all-pairs slice; this wires the LSH candidate generator in front of it
    * so no stage is O(n²) in documents.
    *
    * Recall: with the default 8-band × 2-row banding, a true pair at
    * Jaccard J ≥ threshold is missed with probability (1−J²)^8 — ≤ 2·10⁻⁶
    * at J = 0.9 — and a missed EDGE only splits a component when it was the
    * sole connecting path. Tighter thresholds want more bands of fewer
    * rows; the bucket cap bounds any degenerate band (e.g. boilerplate
    * shingle sets) at the documented recall cost.
    *
    * Output: `(doc_id, canonical, keep)` — `canonical` = min doc_id of the
    * near-dup component, `keep` = true for the canonical row. */
  def dedupPipeline(
      documents: DataFrame,
      k: Int = 3,
      nPerms: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = 64): DataFrame = {
    val pairs = minhashLshPairs(documents, k, nPerms, bands, threshold, maxBucketSize)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    connectedComponents(documents.select(col("doc_id").as("node")), pairs)
      .select(col("node").as("doc_id"), col("comp").as("canonical"),
        (col("node") === col("comp")).as("keep"))
  }

  /** Per-stratum duplication REPORT over [[dedupPipeline]]'s verdicts —
    * the "which source is rotting the corpus" table a crawl operator
    * reads before re-weighting: per stratum, document count, near-dup
    * non-canonical count, and the duplicate fraction. The pipeline's one
    * doc-sized verdict table joins back to the (doc_id, stratum)
    * projection on the id key, then one stratum-sized hash aggregate —
    * nothing here adds a corpus-sized stage to the pipeline itself. */
  def dedupReport(
      documents: DataFrame,
      stratumCol: org.apache.spark.sql.Column,
      k: Int = 3,
      nPerms: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = 64): DataFrame =
    dedupPipeline(documents, k, nPerms, bands, threshold, maxBucketSize)
      .join(documents.select(col("doc_id"), stratumCol.as("stratum")), Seq("doc_id"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dups"))
      .withColumn("dup_rate",
        round(col("n_dups").cast("double") / col("n_docs"), 6))

  /** Normalization-aware exact dedup: case-fold, trim, and collapse
    * whitespace runs BEFORE digesting, so trivially-reformatted copies
    * (the most common near-dup class in recrawled webtext) collapse to the
    * same md5 — the cheap pass a pipeline runs before spending MinHash on
    * what's left. Canonical = min doc_id per digest.
    *
    * Scale shape: per-row normalize+md5 (codegen'd, pipelines with the
    * scan), then one digest-keyed shuffle; the `rn = 1`-style min is a
    * per-digest aggregate joined back by digest, and groups are tiny
    * (duplicate cardinality), so no window over the corpus is needed. */
  def normalizedDedup(documents: DataFrame): DataFrame =
    // window min over one digest-keyed exchange (r6, guide §2.4) instead
    // of the former groupBy-min + join-back, whose two references each
    // re-ran the normalize+md5 scan over the full text. Same shape as
    // q05's exact dedup (digest computed map-side; text never rides the
    // exchange). The isNotNull filter reproduces the old inner join's
    // null-digest drop.
    documents.select(col("doc_id"), normDigest.as("digest"))
      .filter(col("digest").isNotNull)
      .withColumn("canonical",
        min("doc_id").over(Window.partitionBy("digest")))
      .select(col("doc_id"), col("digest"), col("canonical"),
        (col("doc_id") === col("canonical")).as("keep"))

  /** Normalized digest of a text column — collapse BEFORE trim: trim()
    * strips spaces only, so edge tabs/newlines must first be folded into
    * plain spaces. Shared by the batch and streaming dedup paths so both
    * agree on what "the same document" means. */
  private def normDigest: org.apache.spark.sql.Column =
    md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))

  /** Streaming FIRST-SEEN dedup — the ingest-time twin of
    * [[normalizedDedup]]: as crawl documents stream in, only the first
    * arrival of each normalized digest passes (batch's min-doc_id canonical
    * becomes arrival-order canonical, the only causal choice on a stream).
    * Built on Spark's native stateful `dropDuplicates[WithinWatermark]`, so
    * the digest state lives in the fault-tolerant state store and survives
    * restarts.
    *
    * At 100 TB the unbounded variant's state is one row per DISTINCT
    * document — pass `horizon = Some(tsCol -> delay)` to use
    * `dropDuplicatesWithinWatermark`, which evicts digests once the
    * watermark passes them (exact dedup within the horizon, the standard
    * bounded-state trade for an unbounded crawl). */
  def normalizedDedupStream(
      docs: DataFrame,
      horizon: Option[(String, String)] = None): DataFrame = {
    val digested = docs.withColumn("digest", normDigest)
    horizon match {
      case Some((tsCol, delay)) =>
        digested.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark("digest")
          .select(col("doc_id"), col("digest"))
      case None =>
        digested.dropDuplicates("digest")
          .select(col("doc_id"), col("digest"))
    }
  }
}
