package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators: the steps that turn a cleaned document pool
  * into an actual training mix — per-stratum token budgeting and benchmark
  * decontamination. Inputs: the `documents(doc_id, text, lang, source,
  * n_chars)` table. */
object CorpusOps {

  /** Token-budget quota sampling: within each (lang, source) stratum, keep
    * documents in deterministic doc_id order until the stratum's cumulative
    * token count reaches `budget` (the last kept doc may overshoot — budget
    * semantics are "start under budget", so the cut is a pure per-row
    * predicate on the prefix sum, not an iterative loop).
    *
    * Scale shape: one keyed window (partition = stratum, order = doc_id)
    * computing a running sum — a single shuffle on the stratum key and a
    * per-partition sort; no global sort, no driver loop. Strata are the mix
    * dimensions (typically tens of cells), and skewed mega-strata sort
    * within their own partitions only. */
  def tokenBudget(documents: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy("lang", "source").orderBy("doc_id")
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
  }

  /** Benchmark decontamination: flag every non-eval document that shares at
    * least one k-token shingle with the eval set (`evalIds(doc_id)`) — the
    * standard n-gram-overlap eval-decontamination step run before training.
    *
    * Scale shape: shingles are joined by their 64-bit hash
    * ([[graft.functions]] `hashed_shingles`), so the shuffle ships 8-byte
    * longs, never gram strings; the eval-gram side is DISTINCT-collapsed
    * first and is benchmark-sized (tiny vs the corpus), so Spark broadcasts
    * it and the corpus side never shuffles. A hash collision can only add a
    * false POSITIVE (an extra dropped doc) at p ≈ 2⁻⁶⁴ per gram pair.
    * Output: `(doc_id, contaminated)` over documents ∖ evalIds. */
  def decontaminate(documents: DataFrame, evalIds: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.functions.hashed_shingles
    val grams = documents.select(col("doc_id"),
      explode(hashed_shingles(col("text"), k)).as("g"))
    // restrict to eval docs BEFORE shingling (r6, guide §2.3 project
    // early): the old grams ⋈ evalIds shape computed shingles for the
    // whole corpus and then kept the eval slice — the join cannot be
    // pushed below the explode. Same gram set, one benchmark-sized
    // shingle pass instead of a corpus-sized one.
    val evalGrams = documents.join(evalIds, Seq("doc_id"))
      .select(explode(hashed_shingles(col("text"), k)).as("g"))
      .distinct()
    val contaminated = grams.join(broadcast(evalGrams), Seq("g"))
      .select("doc_id").distinct()
    documents.select("doc_id")
      .join(evalIds, Seq("doc_id"), "left_anti")
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Decontamination for UNBOUNDED document streams — the streaming twin of
    * [[decontaminate]]. The eval set is static, so its distinct gram
    * hashes are aggregated once and shipped as a Spark BROADCAST variable
    * probed by a codegen'd native expression
    * ([[graft.functions.SortedLongsOverlapBroadcast]] — binary search per
    * doc gram against the sorted broadcast array); each micro-batch is
    * then a stateless per-row map — no shuffle, no state store, identical
    * semantics on batch and streaming inputs (stream ≡ batch asserted in
    * CorpusOpsSpec, including a 10⁵-gram eval set). The broadcast seam
    * scales to 10⁸ grams (8 B each — executor-memory-bounded, not
    * codegen-bounded); the EXACT set rides the broadcast, so there are no
    * false positives to re-verify.
    *
    * Unlike [[decontaminate]], eval docs are NOT excluded from the output
    * (an anti-join on an unbounded stream would be stateful); feed the
    * stream pre-filtered or drop `doc_id % …` eval rows downstream. */
  def decontaminateStream(docs: DataFrame, evalDocs: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.functions.{hashed_shingles, overlaps_broadcast}
    val evalGrams: Array[Long] = evalDocs
      .select(explode(hashed_shingles(col("text"), k)).as("g"))
      .distinct().collect().map(_.getLong(0)).sorted
    val bc = docs.sparkSession.sparkContext.broadcast(evalGrams)
    docs.select(col("doc_id"),
      overlaps_broadcast(hashed_shingles(col("text"), k), bc).as("contaminated"))
  }

  /** Knuth multiplicative hash of a non-negative 64-bit id, reduced mod
    * 2³², as a pure arithmetic Column — chosen over xxhash/murmur because
    * the SAME expression is writable in ANY engine's SQL (the DuckDB
    * oracles replay it verbatim), so shard/sample decisions are portable
    * across the whole toolchain, not private to one hash library. */
  def idHash(id: Column): Column =
    (id * lit(2654435761L)) % lit(4294967296L)

  /** Deterministic TRAINING-SHARD assignment — the "global shuffle" step
    * that turns a finished corpus into N equal-ish shard files whose
    * within-shard order is pseudo-random but reproducible (same input →
    * byte-identical shards, on any cluster size).
    *
    * shard = [[idHash]](doc_id) mod nShards; pos = rank of (hash, doc_id)
    * within the shard. A true global sort is never run: writing is
    * `repartition(shard)` + `sortWithinPartitions(h, doc_id)` — one
    * shuffle, per-shard sorts. `pos` (a per-shard row_number) exists for
    * the manifest/oracle; at corpus scale you pick nShards to hold shard
    * SIZE constant (≈ fixed rows per shard), so the per-shard sort is
    * bounded no matter how large the corpus grows. */
  def shardAssign(documents: DataFrame, nShards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    documents
      .select(col("doc_id"), idHash(col("doc_id")).as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select("doc_id", "shard", "pos")
  }

  /** One-call nightly corpus build — the composed driver a user runs
    * end-to-end: normalized exact dedup → quality filter → repetition
    * filter → near-dup canonical ([[graft.ops.DedupOps.dedupPipeline]]) →
    * eval decontamination → per-stratum token budget → deterministic shard
    * assignment for the survivors. Every stage is an independently
    * oracle-pinned operator (q63/q07/q56/q55/q58/q57/q60); this function
    * fixes their canonical order and returns the full per-document
    * DECISION TABLE — `keep` plus the first failing stage in `drop_reason`
    * (audit trail), with `shard`/`pos` populated for kept docs — so a
    * corpus build is reproducible and explainable row by row.
    *
    * Scale shape: each stage keeps its own documented plan (no new
    * shuffles are introduced by the composition — decisions join back on
    * doc_id); the budget window and shard sort run only once, after all
    * filters. */
  def buildCorpus(
      documents: DataFrame,
      evalIds: DataFrame,
      budgetPerStratum: Long,
      nShards: Int): DataFrame = {
    val norm = DedupOps.normalizedDedup(documents)
      .select(col("doc_id"), col("keep").as("norm_keep"))
    val quality = TextOps.qualityScore(documents)
      .select(col("doc_id"), col("keep").as("q_keep"))
    val rep = TextOps.repetitionStats(documents)
      .select(col("doc_id"), col("keep").as("r_keep"))
    val near = DedupOps.dedupPipeline(documents)
      .select(col("doc_id"), col("keep").as("d_keep"))
    val decon = decontaminate(documents, evalIds)
    // flag-sized, never text; the drop rows, budget window and shard join share it
    val decided = Adaptive.materialize(documents
      .select(col("doc_id"), col("lang"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(norm, Seq("doc_id"))
      .join(quality, Seq("doc_id")).join(rep, Seq("doc_id"))
      .join(near, Seq("doc_id"))
      .join(decon, Seq("doc_id"), "left") // eval docs: null -> dropped as eval
      .withColumn("drop_reason",
        when(col("contaminated").isNull, "eval_doc")
          .when(!col("norm_keep"), "exact_dup")
          .when(!col("q_keep"), "quality")
          .when(!col("r_keep"), "repetition")
          .when(!col("d_keep"), "near_dup")
          .when(col("contaminated"), "contaminated")))
    // budget runs over the docs that survived every filter
    val survivors = decided.filter(col("drop_reason").isNull)
    val w = Window.partitionBy("lang", "source").orderBy("doc_id")
    val budgeted = survivors
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("drop_reason",
        when(col("cum_tokens") - col("n_tokens") >= budgetPerStratum,
          "over_budget"))
    val kept = budgeted.filter(col("drop_reason").isNull)
      .select(col("doc_id"))
    val sharded = shardAssign(kept, nShards)
    decided.filter(col("drop_reason").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("drop_reason"))
      .unionByName(budgeted.filter(col("drop_reason").isNotNull)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
          col("drop_reason")))
      .withColumn("keep", lit(false))
      .withColumn("shard", lit(null).cast("int"))
      .withColumn("pos", lit(null).cast("int"))
      .unionByName(budgeted.filter(col("drop_reason").isNull)
        .join(sharded, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
          lit(null).cast("string").as("drop_reason"), lit(true).as("keep"),
          col("shard"), col("pos")))
  }

  /** Deterministic per-stratum sample: the first `n` documents of each
    * (lang, source) stratum in [[idHash]] order — a reproducible uniform
    * draw with NO RNG state (re-running on any partitioning returns the
    * same rows).
    *
    * Scale shape: the `rank <= n` filter on a per-stratum window compiles
    * to WindowGroupLimit (Spark 3.5+), so each map task keeps only its
    * local top-n per stratum BEFORE the shuffle — the exchange carries
    * O(strata · n) rows, not the corpus. For samples too large for that
    * (n ≫ 10⁶), switch to the thresholded form `idHash(doc_id) < 2³²·f` —
    * a pure map-side filter with binomial (not exact-n) size. */
  def stratifiedSample(documents: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("lang", "source").orderBy("h", "doc_id")
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        idHash(col("doc_id")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select("doc_id", "lang", "source", "rn")
  }

  /** Per-group percentile gate — the CCNet head/middle/tail move: rank each
    * row's score WITHIN its group (ascending: lower = better, e.g.
    * perplexity) and keep the best `keepFrac` quantile. percent_rank is the
    * exact rational (rank−1)/(n−1) over integer rank/count (RANK semantics:
    * ties share a rank in both engines), so the gate is bit-deterministic
    * at any parallelism and mirrors the oracle exactly; a 1-row group ranks
    * 0.0 (kept) in both engines.
    *
    * Scale shape: ONE per-group window pass (rank + percent_rank share the
    * single sort); no buffered frame, no second pass for n. */
  def percentileGate(
      scored: DataFrame,
      groupCol: Column,
      scoreCol: Column,
      keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val w = Window.partitionBy(groupCol).orderBy(scoreCol)
    scored
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("keep", col("pct_rank") <= keepFrac)
  }

  /** Deterministic WEIGHTED stratified sample — Efraimidis–Spirakis
    * (2006) reservoir keys without a reservoir: each doc draws the
    * pseudo-uniform u = ([[idHash]](doc_id)+1)/2³² ∈ (0,1] (pure function
    * of doc_id — same input → same sample on any cluster size or run) and
    * is ranked by k = ln(u)/w descending, which selects each doc with
    * probability proportional to its weight w (the standard one-pass
    * weighted-sampling order statistic, u^(1/w) in log space). Heavier
    * docs sample more often; non-positive weights are excluded up front.
    *
    * Exactness: the hash is exact integer arithmetic; u is an exact
    * power-of-two scaling; ln is the q65/q116 parity precedent and the
    * one division is correctly rounded over bit-identical operands — so
    * the ranking doubles mirror DuckDB bit-for-bit and the selected set
    * is deterministic. Ties (astronomically unlikely) break on doc_id.
    *
    * Scale shape: identical to [[stratifiedSample]] — a per-row key
    * projection, one strata-keyed exchange, and WindowGroupLimit pushes
    * the top-n cut below the shuffle, so the exchange carries
    * O(strata·n·partitions), never the corpus. */
  def weightedSample(documents: DataFrame, weightCol: Column, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val w = Window.partitionBy("lang", "source")
      .orderBy(col("k").desc, col("doc_id"))
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        weightCol.cast("double").as("w"))
      .filter(col("w") > 0)
      .withColumn("k",
        log((idHash(col("doc_id")) + lit(1L)).cast("double")
          / lit(4294967296.0)) / col("w"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select("doc_id", "lang", "source", "w", "k", "rn")
  }
}
