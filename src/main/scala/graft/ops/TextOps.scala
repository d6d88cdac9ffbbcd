package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for a large-scale training-data pipeline, all
  * expressed with codegen'd built-in functions (no UDFs in the hot path).
  * Inputs: the `documents(doc_id, text, lang, source, n_chars)` table. */
object TextOps {

  val EnStop: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
  val DeStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von")
  val FrStop: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour")

  private def inList(tok: Column, words: Seq[String]): Column =
    tok.isin(words.map(w => lit(w)): _*)

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  private def stopHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => inList(t, words)))

  /** Whitespace + BPE-ish token counts. */
  def tokenStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      // BPE-ish: word pieces of <=4 chars — ceil(len/4) summed over words
      aggregate(
        transform(tokens(col("text")), t => ceil(length(t).cast("double") / 4.0).cast("long")),
        lit(0L), (acc, x) => acc + x).as("n_subtokens"),
      length(col("text")).as("n_chars"))

  /** Corpus vocabulary: global token counts, deterministic top-N.
    *
    * Scale shape: explode + partial/final hash aggregate (map-side combine
    * collapses each partition to its distinct tokens before the shuffle),
    * then a DISTRIBUTED top-N — `orderBy().limit()` compiles to
    * TakeOrderedAndProject (per-partition heaps + driver merge of N rows),
    * never a global sort. The rank window runs over the N surviving rows
    * only, so the unpartitioned window is N-sized, not vocabulary-sized. */
  def vocabulary(documents: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(topN)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
  }

  /** Top-k TF-IDF keywords per document — the per-doc companion to
    * [[vocabulary]]'s corpus view and [[bm25]]'s query-side scoring:
    * score = tf · (ln((N+1)/(df+1)) + 1) (the smoothed-idf convention that
    * never zeroes a corpus-wide term), top `k` terms per doc under a
    * deterministic (score DESC, term ASC) order.
    *
    * EXACT cross-engine: tf/df/N are exact integers at any partitioning
    * and the score is two fixed-order double ops over them (ln parity per
    * the q65 precedent), so ranks agree bit-for-bit and raw scores mirror.
    * Scale shape: explode + two hash aggregates; the df join shuffles at
    * (doc, term) granularity on the term key (no vocabulary broadcast
    * needed); N arrives as a broadcast 1-row aggregate; the rank window's
    * `rank <= k` filter pushes down as WindowGroupLimit, so no doc's full
    * term list survives the sort. */
  def keywordTfidf(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = documents.agg(count(lit(1)).as("n"))
    // df via a window over the term partition instead of the former
    // groupBy+join-back, which re-ran the corpus-sized explode+aggregate
    // behind `tf` for both references (r6, guide §2.4); values identical
    // (integer count per term)
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") *
        (log((col("n").cast("double") + lit(1.0))
          / (col("df").cast("double") + lit(1.0))) + lit(1.0)))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Zipf rank–frequency fit per group (e.g. language): OLS of ln(freq)
    * on ln(rank) over the top `topN` ranks; `zipf_exponent` = −slope
    * (Zipf's law predicts ≈ 1 for natural text; machine-generated or
    * template-heavy corpora drift well off it), plus intercept, r², the
    * rank count actually fitted and the full vocabulary size — the
    * corpus-health diagnostic next to [[vocabulary]]'s raw counts.
    *
    * EXACT cross-engine: term frequencies are exact integers at any
    * partitioning; ranks are `row_number` under the deterministic
    * (freq DESC, token ASC) order; the five OLS sufficient statistics
    * fold ln terms LEFT-TO-RIGHT in rank order from an explicit 0.0 each
    * (the q116 fixed-order-ln discipline), and the closed form reuses
    * [[AnalyticsOps.olsFinalize]]'s op order verbatim (scale 1.0 divisions
    * are bit-exact), so raw doubles mirror the oracle bit-for-bit.
    *
    * Scale shape: the only corpus-sized work is one explode +
    * partial/final hash aggregate to (group, token) counts. The rank
    * window runs over the VOCABULARY-sized table and its `rnk <= topN`
    * filter pushes down as WindowGroupLimit (per-partition top-N heaps
    * prune before the per-group sort); every later stage — the collected
    * fold list, the vocab-count join — is topN- or group-count-sized. */
  def zipfFit(
      documents: DataFrame,
      groupCol: Column,
      topN: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 2, s"topN must be >= 2, got $topN")
    // vocab-sized; the vocabulary count and the rank window share it
    val tf = Adaptive.materialize(documents
      .select(groupCol.as("grp"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("grp", "tok").agg(count(lit(1)).as("c")))
    val vocab = tf.groupBy("grp").agg(count(lit(1)).as("vocab_size"))
    val w = Window.partitionBy("grp").orderBy(col("c").desc, col("tok"))
    val ranked = tf.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topN)
    val folded = ranked
      .groupBy("grp")
      .agg(sort_array(collect_list(struct(col("rnk"), col("c"))))
        .as("__rc"))
    def fold(term: Column => Column) =
      aggregate(transform(col("__rc"), term), lit(0.0), (acc, t) => acc + t)
    def x(s: Column) = log(s("rnk").cast("double"))
    def y(s: Column) = log(s("c").cast("double"))
    val stats = folded.select(
      col("grp"),
      size(col("__rc")).cast("long").as("n"),
      fold(x).as("sx"), fold(y).as("sy"),
      fold(s => x(s) * y(s)).as("sxy"),
      fold(s => x(s) * x(s)).as("sxx"),
      fold(s => y(s) * y(s)).as("syy"))
    AnalyticsOps.olsFinalize(stats, 1.0)
      .join(vocab, Seq("grp"))
      .select(col("grp"), col("n").as("n_ranks"), col("vocab_size"),
        (-col("slope")).as("zipf_exponent"), col("intercept"), col("r2"))
  }

  /** Per-group unigram-distribution divergence from the corpus: KL(p‖q),
    * Jensen–Shannon, and total-variation distance between each group's
    * token distribution and the corpus-wide one, both restricted to the
    * corpus TOP-`topN` tokens (renormalized within them) — the "which
    * source/shard is statistically off" monitor a mixing pipeline runs
    * before weighting corpora, the unbounded-vocabulary twin of
    * [[AnalyticsOps.psiDrift]]'s binned version. Groups missing a top
    * token substitute `eps` for its proportion (PSI's convention), so
    * every log is finite.
    *
    * EXACT cross-engine: all counts are exact integers; per-term p/q are
    * fixed divisions; the three divergences fold term-by-term in RANK
    * order from an explicit 0.0 (the q116 discipline, ln parity per q65).
    * Scale shape: one corpus-sized explode feeds two hash aggregates (the
    * corpus counts and the per-(group, token) counts pre-filtered by a
    * BROADCAST of the topN set); the distribution grid is groups×topN
    * rows; the fold list is topN-bounded. The top-N itself is
    * TakeOrderedAndProject — per-partition heaps, never a global sort. */
  def sourceDivergence(
      documents: DataFrame,
      groupCol: Column,
      topN: Int = 200,
      eps: Double = 1e-4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 1, s"topN must be >= 1, got $topN")
    require(eps > 0, s"eps must be positive, got $eps")
    val toks = documents
      .select(groupCol.as("grp"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    // topN rows; the membership and grid broadcasts and corpus total share it
    val top = Adaptive.materialize(toks.groupBy("tok").agg(count(lit(1)).as("cc"))
      .orderBy(col("cc").desc, col("tok")).limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cc").desc, col("tok")))))
    val grpCounts = toks
      .join(broadcast(top.select("tok", "rank")), Seq("tok"))
      .groupBy("grp", "rank").agg(count(lit(1)).as("gc"))
    val grpTot = grpCounts.groupBy("grp").agg(sum("gc").as("gt"))
    val corpusTot = top.agg(sum("cc").as("tc"))
    val grid = grpTot
      .crossJoin(broadcast(top.select(col("rank"), col("cc"))))
      .crossJoin(broadcast(corpusTot))
      .join(grpCounts, Seq("grp", "rank"), "left")
      .na.fill(0L, Seq("gc"))
      .withColumn("p", when(col("gc") > 0L,
        col("gc").cast("double") / col("gt").cast("double"))
        .otherwise(lit(eps)))
      .withColumn("q", col("cc").cast("double") / col("tc").cast("double"))
    val folded = grid
      .groupBy(col("grp"), col("gt"))
      .agg(sort_array(collect_list(struct(col("rank"), col("p"), col("q"))))
        .as("__terms"))
    def fold(term: Column => Column) =
      aggregate(transform(col("__terms"), term), lit(0.0), (acc, t) => acc + t)
    folded.select(
      col("grp"),
      col("gt").as("n_top_tokens"),
      fold(s => s("p") * log(s("p") / s("q"))).as("kl"),
      fold { s =>
        val m = (s("p") + s("q")) / lit(2.0)
        (s("p") * log(s("p") / m) + s("q") * log(s("q") / m)) / lit(2.0)
      }.as("js"),
      (fold(s => abs(s("p") - s("q"))) / lit(2.0)).as("tv"))
  }

  /** Heaps' law vocabulary-growth fit per group: V(N) ≈ K·N^β — OLS of
    * ln(cumulative vocabulary) on ln(cumulative tokens) sampled along the
    * doc_id axis. β ∈ (0.4, 0.6) for natural text; β → 0 means the corpus
    * has stopped contributing new vocabulary (saturation — more crawl buys
    * no diversity), β → 1 means near-random token soup. The companion
    * diagnostic to [[zipfFit]]'s rank-frequency view.
    *
    * Scale shape — NO doc-count-sized sequential pass anywhere:
    * the doc axis is CHUNKED by `doc_id >> chunkShift` (an exact integer
    * shift); the only corpus-sized work is one explode feeding two hash
    * aggregates (per-(group, token) first-chunk — vocab-sized — and
    * per-(group, chunk) token counts). Cumulative N and V then come from
    * prefix-sum windows over the CHUNK-COUNT-sized rollup, and the ln-ln
    * fit uses only checkpoints whose chunk rank is a POWER OF TWO —
    * ≤ 64 points per group, log-spaced exactly where a log-log fit wants
    * them — so the collected fold list is O(log chunks), never data-sized.
    *
    * EXACT cross-engine: chunk ids, counts, prefix sums and the
    * power-of-2 rank mask are all integers (order-free); the ≤64 ln terms
    * fold LEFT-TO-RIGHT in rank order from an explicit 0.0 (the q116
    * discipline) and the closed form reuses [[AnalyticsOps.olsFinalize]]
    * verbatim, so raw doubles mirror the oracle bit-for-bit. Groups with
    * one checkpoint (or zero x-variance) yield NULL fits. */
  def heapsFit(
      documents: DataFrame,
      groupCol: Column,
      docIdCol: Column,
      chunkShift: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkShift >= 0 && chunkShift < 63,
      s"chunkShift must be in [0, 63), got $chunkShift")
    val toks = documents
      .select(groupCol.as("grp"),
        shiftright(docIdCol.cast("long"), chunkShift).as("chunk"),
        explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    // vocab×chunk-sized; first-seen and per-chunk totals share it (exact sums)
    val pairs = Adaptive.materialize(toks.groupBy("grp", "tok", "chunk")
      .agg(count(lit(1)).as("c")))
    val firstChunk = pairs.groupBy("grp", "tok")
      .agg(min("chunk").as("first_chunk"))
    val newPerChunk = firstChunk
      .groupBy(col("grp"), col("first_chunk").as("chunk"))
      .agg(count(lit(1)).as("new_toks"))
    val tokPerChunk = pairs.groupBy("grp", "chunk")
      .agg(sum("c").as("n_toks"))
    // every chunk with a first-seen token also has tokens, so left join
    val w = Window.partitionBy("grp").orderBy("chunk")
    val cum = tokPerChunk
      .join(newPerChunk, Seq("grp", "chunk"), "left")
      .na.fill(0L, Seq("new_toks"))
      .select(col("grp"), col("chunk"),
        sum(col("n_toks")).over(w).as("cum_n"),
        sum(col("new_toks")).over(w).as("cum_v"),
        row_number().over(w).as("rn"))
    val totals = tokPerChunk.groupBy("grp")
      .agg(sum("n_toks").as("total_tokens"))
      .join(firstChunk.groupBy("grp").agg(count(lit(1)).as("total_vocab")),
        Seq("grp"))
    val checkpoints = cum
      .filter(col("rn").bitwiseAND(col("rn") - 1) === 0)
      .groupBy("grp")
      .agg(sort_array(collect_list(struct(col("rn"), col("cum_n"),
        col("cum_v")))).as("__pts"))
    def fold(term: Column => Column) =
      aggregate(transform(col("__pts"), term), lit(0.0), (acc, t) => acc + t)
    def x(s: Column) = log(s("cum_n").cast("double"))
    def y(s: Column) = log(s("cum_v").cast("double"))
    val stats = checkpoints.select(
      col("grp"),
      size(col("__pts")).cast("long").as("n"),
      fold(x).as("sx"), fold(y).as("sy"),
      fold(s => x(s) * y(s)).as("sxy"),
      fold(s => x(s) * x(s)).as("sxx"),
      fold(s => y(s) * y(s)).as("syy"))
    AnalyticsOps.olsFinalize(stats, 1.0)
      .join(totals, Seq("grp"))
      .select(col("grp"), col("n").as("n_points"), col("total_tokens"),
        col("total_vocab"), col("slope").as("beta"),
        col("intercept").as("ln_k"), col("r2"))
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length; `keep` mirrors common crawl-cleaning heuristics. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    documents.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        nTok.as("n_tokens"),
        round(length(regexp_replace(col("text"), "[^.,;:!?]", ""))
          .cast("double") / greatest(length(col("text")), lit(1)), 6).as("punct_ratio"),
        round(stopHits(col("text"), EnStop).cast("double") / greatest(nTok, lit(1)), 6)
          .as("stop_ratio"),
        round(length(regexp_replace(col("text"), "\\s+", "")).cast("double")
          / greatest(nTok, lit(1)), 6).as("mean_word_len"))
      .withColumn("keep",
        col("n_chars") >= 100 && col("n_tokens") >= 20 && col("mean_word_len") <= 15.0)
  }

  /** Language-ID by stopword vote (n-gram-free heuristic; deterministic and
    * SQL-expressible so the DuckDB oracle can replay it). */
  def langId(documents: DataFrame): DataFrame = {
    val en = stopHits(col("text"), EnStop)
    val de = stopHits(col("text"), DeStop)
    val fr = stopHits(col("text"), FrStop)
    documents.select(
      col("doc_id"), en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"),
      when(en >= de && en >= fr, "en").when(de >= fr, "de").otherwise("fr").as("lang_pred"))
  }

  /** Per-class evaluation of a predicted label column against a gold one —
    * the corpus-level scoreboard (confusion counts, precision/recall/F1
    * per class) a pipeline runs after any classifier pass (language-ID,
    * quality gates, dedup flags); the distributed sibling of the kernel's
    * per-series [[graft.kernel.Scoring]]. One row per class in
    * gold ∪ predicted: support, predicted count, tp/fp/fn, precision =
    * tp/pred_n, recall = tp/support, f1 = 2pr/(p+r) (NULL where the
    * denominator is 0 — classes never predicted / never seen).
    *
    * EXACT cross-engine: the confusion cells are integers at any
    * partitioning and each metric is a fixed chain of double ops over
    * them. Scale shape: ONE data-sized hash aggregate to (gold, pred)
    * cells; everything after is class-count-sized. */
  def labelEval(
      labeled: DataFrame,
      goldCol: Column,
      predCol: Column): DataFrame = {
    // class×class-sized; byGold, byPred, tp and the classes union share it
    val pairs = Adaptive.materialize(labeled
      .groupBy(goldCol.as("gold"), predCol.as("pred"))
      .agg(count(lit(1)).as("n")))
    val byGold = pairs.groupBy(col("gold").as("cls"))
      .agg(sum("n").as("support"))
    val byPred = pairs.groupBy(col("pred").as("cls"))
      .agg(sum("n").as("pred_n"))
    val tp = pairs.filter(col("gold") === col("pred"))
      .select(col("gold").as("cls"), col("n").as("tp"))
    val classes = byGold.select("cls").union(byPred.select("cls")).distinct()
    val base = classes
      .join(byGold, Seq("cls"), "left")
      .join(byPred, Seq("cls"), "left")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("pred_n"), lit(0L)).as("pred_n"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val p = col("tp").cast("double") / col("pred_n").cast("double")
    val r = col("tp").cast("double") / col("support").cast("double")
    base.select(col("cls"), col("support"), col("pred_n"), col("tp"),
      (col("pred_n") - col("tp")).as("fp"),
      (col("support") - col("tp")).as("fn"),
      when(col("pred_n") > 0, p).as("precision"),
      when(col("support") > 0, r).as("recall"),
      when(col("pred_n") > 0 && col("support") > 0 && col("tp") > 0,
        lit(2.0) * p * r / (p + r)).as("f1"))
  }

  /** Gopher-style repetition filtering (Rae et al. 2021 §A1.1): per-doc
    * unique-token fraction, most-frequent-token fraction, and the fraction
    * of 2-gram occurrences whose 2-gram repeats within the doc — the
    * signals that catch boilerplate and keyword-stuffed webtext that
    * length/punctuation heuristics ([[qualityScore]]) miss.
    *
    * Scale shape: two explode → partial/final hash-aggregate chains (token
    * counts, 2-gram counts) re-aggregated per doc and joined on doc_id —
    * map-side combine collapses each partition to its distinct terms before
    * either shuffle, and no window or per-doc sort appears anywhere. The
    * `keep` thresholds compare UNROUNDED ratios (identical int-division
    * inputs ⇒ bit-identical doubles in any engine); the reported columns are
    * rounded for the oracle hash. */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), nonEmptyTokens.as("toks"))
    val grams2 = filter(
      transform(col("toks"), (_, i) => concat_ws(" ", slice(col("toks"), i + lit(1), lit(2)))),
      g => size(split(g, " ")) === 2)
    val tokAgg = base.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"), count(lit(1)).as("n_uniq"), max("c").as("top_cnt"))
    val gramAgg = base.select(col("doc_id"), explode(grams2).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup2_occ"),
        sum("c").as("n_grams"))
    val uniqFrac = coalesce(col("n_uniq"), lit(0L)).cast("double") /
      greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L))
    val topFrac = coalesce(col("top_cnt"), lit(0L)).cast("double") /
      greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L))
    val dup2Frac = coalesce(col("dup2_occ"), lit(0L)).cast("double") /
      greatest(coalesce(col("n_grams"), lit(0L)), lit(1L))
    base.select(col("doc_id"))
      .join(tokAgg, Seq("doc_id"), "left")
      .join(gramAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(uniqFrac, 6).as("uniq_frac"),
        round(topFrac, 6).as("top_frac"),
        round(dup2Frac, 6).as("dup2_frac"),
        (uniqFrac >= 0.35 && topFrac <= 0.15 && dup2Frac <= 0.12).as("keep"))
  }

  /** SPAN-level cross-document duplication stats — which token RANGES of a
    * document also appear verbatim in other documents (the "repeated
    * 50-token span" signal of substring-level training-data dedup, à la
    * Lee et al. 2022), where q05/q16 answer the DOC-level question.
    *
    * A position's word-k-gram is "duplicated" when the same k-gram occurs
    * in ≥ `minDocs` distinct documents. Per document this emits the number
    * of duplicated gram positions and the exact token count covered by the
    * UNION of their [pos, pos+k) intervals (computed with one lag() pass —
    * consecutive hits add min(k, pos−prev) tokens), so `dup_frac` is the
    * fraction of the document's tokens that exist verbatim elsewhere.
    *
    * Scale shape: the gram explode is the one event-sized shuffle (hash on
    * the 64-bit gram, partial-agg combine); the duplicated-gram table is
    * usually corpus-small (AQE broadcasts it); the interval-union window
    * partitions by doc over HIT positions only. No task ever holds more
    * than one document's hits. */
  def dupSpanStats(documents: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.functions.positional_shingles
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val grams = documents.select(col("doc_id"),
      posexplode(positional_shingles(col("text"), k)).as(Seq("pos", "g")))
    val dup = grams.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("g")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val covered = grams.join(dup, Seq("g"))
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("newcov",
        when(col("prev").isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong), col("pos") - col("prev"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"), sum("newcov").as("dup_tokens"))
    documents.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / greatest(col("n_tokens"), lit(1L)), 6)
          .as("dup_frac"))
  }

  /** Document fingerprint: order-sensitive rolling combination of token
    * hashes (Karp-Rabin flavoured), plus a winnowing-style min-hash of token
    * 64-bit hashes. Content-defined, stable under re-partitioning. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      // shift-xor rolling combine: order-sensitive and ANSI-safe (shiftleft
      // wraps modularly; `acc*31+h` would throw under Spark 4 ANSI overflow)
      aggregate(transform(tokens(col("text")), t => xxhash64(t)),
        lit(0L), (acc, h) => shiftleft(acc, 5).bitwiseXOR(shiftright(acc, 2)).bitwiseXOR(h))
        .as("rolling_fp"),
      array_min(transform(tokens(col("text")), t => xxhash64(t))).as("min_token_hash"))

  /** Benchmark DECONTAMINATION — the eval-set n-gram overlap check every
    * LLM training pipeline runs before a data release (the GPT-3 appendix-C
    * / PaLM "contamination" methodology): a training document is flagged
    * when it shares word-k-gram(s) with any document of the held-out eval
    * set. Reports, per train doc, its distinct-gram count, how many of
    * those grams occur anywhere in the eval set, and the contaminated
    * fraction. It is the engine's one decontamination operator: q115 reads
    * the counts; q58, q59 and [[CorpusOps.buildCorpus]] keep
    * `(doc_id, contaminated)`. Eval docs (and rows whose `isEval` is NULL)
    * are absent from the output; gram-less docs come out clean.
    *
    * Scale shape: grams are native single-pass DISTINCT 64-bit shingle
    * hashes ([[graft.functions.functions.hashed_shingles]], codegen'd), so
    * the event-sized stage carries longs, never strings, and the train
    * corpus is scanned+shingled exactly ONCE: `explode_outer` keeps
    * gram-less docs, a broadcast LEFT join marks eval-gram hits in-stream,
    * and the per-doc aggregate combines map-side (a doc's grams never
    * leave their partition), so the one shuffle is doc-count-sized. The
    * eval side is benchmark-sized BY DEFINITION (thousands of docs against
    * a 100-TB corpus) and is deliberately broadcast-hinted — an eval set
    * too large to broadcast should be pre-aggregated before this op. */
  def decontaminate(
      documents: DataFrame,
      isEval: Column,
      k: Int = 8): DataFrame = {
    import graft.functions.functions.hashed_shingles
    require(k >= 1, s"k must be >= 1, got $k")
    val evalGrams = documents.filter(isEval)
      .select(explode(hashed_shingles(col("text"), k)).as("g")).distinct()
      .withColumn("__hit", lit(1))
    // eval docs leave AFTER the per-doc count, through an aggregate of the
    // predicate: a scan filter would become a doc_id constraint that Spark
    // copies onto every side a caller joins this output with (q59), where
    // it seeds a runtime bloom filter built in one partition. Eval docs
    // are benchmark-sized, so counting their grams costs next to nothing.
    documents
      .select(col("doc_id"), isEval.as("__eval"),
        explode_outer(hashed_shingles(col("text"), k)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(col("g")).as("n_grams"),
        count(col("__hit")).as("n_contaminated"),
        max(col("__eval")).as("__eval"))
      .filter(!col("__eval"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double")
          / greatest(col("n_grams"), lit(1L)).cast("double"), 6)
          .as("contamination"),
        (col("n_contaminated") > 0L).as("contaminated"))
  }

  /** Okapi BM25 relevance of every document against a small fixed query —
    * the retrieval primitive a curation pipeline uses to mine topical
    * subsets ("find the docs about X") out of a web corpus. Standard
    * Robertson idf with the +1 smoothing (Lucene's variant, always
    * positive); returns only docs matching at least one term.
    *
    * Scale shape: per-term tf/dl are per-row array ops fused into the scan
    * (no explode — the query is tiny, the corpus is not); corpus stats
    * (N, avgdl, per-term df) are ONE single-row aggregate broadcast back.
    * Two scans of the corpus, zero data-sized shuffles. The per-term
    * contributions are summed left-to-right in query order so the oracle
    * can mirror the FP op order exactly. */
  def bm25(
      documents: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must not be empty")
    val toks = tokens(col("text"))
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).cast("double").as(s"tf$i")
    }
    val base = documents.select(
      col("doc_id") +: size(toks).cast("double").as("dl") +: tfCols: _*)
    val statAggs = count(lit(1)).cast("double").as("n") +:
      avg(col("dl")).as("avgdl") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val score = queryTerms.indices.map { i =>
      val tf = col(s"tf$i")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * (tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .filter(queryTerms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"), round(score, 6).as("score"))
  }

  /** Email-address pattern: kept to RE2-compatible syntax (no backrefs, no
    * lookaround) so the DuckDB oracle runs the IDENTICAL pattern. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs — the phone/SSN/account-number surrogate every
    * crawl-cleaning pipeline scrubs. */
  val DigitRunRe = "[0-9]{3,}"

  /** PII / blocklist scrubbing — the redaction pass run before a corpus is
    * eligible for training: emails → `<EMAIL>`, long digit runs → `<NUM>`,
    * caller-supplied blocklist terms → `<TERM>`, with per-doc match counts
    * for the removal audit. All three passes are codegen'd
    * `regexp_count`/`regexp_replace` over RE2-compatible patterns (portable
    * to the oracle, and linear-time — no catastrophic backtracking on
    * adversarial documents).
    *
    * Scale shape: a pure per-row map — no shuffle, no UDF; at 100 TB this
    * pipelines with the scan and costs one pass over the bytes. */
  def piiScrub(documents: DataFrame, blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    // plain words only: regex-quoting would need \Q…\E, which RE2 (the
    // oracle engine) lacks — keeping terms literal keeps the pattern portable
    require(blocklist.forall(_.matches("[A-Za-z0-9]+")),
      s"blocklist terms must be alphanumeric words, got: ${blocklist.mkString(",")}")
    val termRe = blocklist.mkString("\\b(", "|", ")\\b")
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        DigitRunRe, "<NUM>"),
      termRe, "<TERM>")
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_email"),
      regexp_count(col("text"), lit(DigitRunRe)).as("n_digit_run"),
      regexp_count(col("text"), lit(termRe)).as("n_term"),
      length(clean).as("n_chars_clean"))
  }

  /** N-gram language-model perplexity scoring — the CCNet-style quality
    * filter (Wenzek et al. 2020: docs are ranked by LM perplexity and the
    * worst tail dropped): a bigram model with add-α smoothing is trained on
    * the corpus ITSELF in one pass, then every document is scored with its
    * per-token cross-entropy `xent = −(1/n)·Σ ln P(tᵢ | tᵢ₋₁)` and
    * perplexity `exp(xent)`, where
    * `P(t₂|t₁) = (c(t₁t₂) + α) / (c(t₁) + α·V)`.
    *
    * Exactness: all counts (bigram c₂, unigram c₁, vocab V) are exact
    * integers under any partitioning; each gram's `ln` term is computed
    * from bit-identical operands (integer + α is exact in binary64, one
    * correctly-rounded divide) and the per-doc sum folds in FIXED position
    * order over the collected (doc-sized) gram list — the q116 PSI
    * discipline, ln parity per the q65 precedent — so the raw doubles are
    * deterministic at any parallelism and mirror the DuckDB oracle; the
    * final round(6) is belt-and-braces only.
    *
    * Scale shape: unigram counts are one token-keyed hash aggregate
    * (map-side combined), materialized because they are vocab-sized; V is
    * ONE broadcast single-row aggregate over them (the BM25 stats
    * license). Bigram counts are a count WINDOW over one gram-keyed
    * exchange of the gram stream, which scoring then reads directly: the
    * gram stream is evaluated once, but every gram row crosses that
    * exchange with no map-side combine, so a Zipfian hot bigram lands on a
    * single task — the skew trade for not re-running the corpus-sized
    * gram stream a second time. Scoring joins the windowed grams to the
    * unigram table on the context token (a co-keyed hash join) and the
    * per-doc fold touches only that doc's own grams. The corpus text
    * column is scanned twice (unigram counts, gram stream) — at 100 TB
    * persist the tokenized projection or accept the pruned rescan, the
    * q59 trade. Docs with <2 tokens surface with n_bigrams=0 and NULL
    * scores — never dropped. */
  def lmScore(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val docToks = documents.select(col("doc_id"), nonEmptyTokens.as("t"))
    // gram stream: (doc_id, pos, context token, gram string). Tokens are
    // whitespace-split, so the ' ' joint is injective — no collisions.
    // sequence(0, n-2) DESCENDS when n < 2 (Spark defaults step to -1),
    // so short docs take the explicit empty branch.
    val idx = when(size(col("t")) >= 2, sequence(lit(0), size(col("t")) - 2))
      .otherwise(array().cast("array<int>"))
    val grams = docToks.select(col("doc_id"),
      explode_outer(transform(idx,
        i => struct(i.as("pos"), element_at(col("t"), i + 1).as("t1"),
          concat_ws(" ", element_at(col("t"), i + 1),
            element_at(col("t"), i + 2)).as("g")))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.t1").as("t1"),
        col("s.g").as("g"))
    // vocab-sized; the vocabulary scalar and the context join share it
    val uni = Adaptive.materialize(unigramCounts(docToks))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val terms = grams
      // bigram count via a window over the gram-keyed exchange instead of
      // the former groupBy+join-back, which re-evaluated the corpus-sized
      // gram stream a second time. For null-g rows (gram-less docs) the
      // window count is computed over the null partition but never read —
      // the term expression is NULL for them exactly as the old left
      // join's missing match was.
      .withColumn("c2", count(lit(1)).over(Window.partitionBy("g")))
      .join(uni.select(col("tok").as("t1"), col("c").as("c1")), Seq("t1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        when(col("g").isNotNull,
          log((col("c2") + lit(alpha))
            / (col("c1") + lit(alpha) * col("v")))).as("term"))
    terms
      .groupBy("doc_id")
      .agg(count(col("term")).as("n_bigrams"),
        // collect_list skips the NULL produced for gram-less docs, so the
        // fold only ever sees real terms
        aggregate(sort_array(collect_list(when(col("term").isNotNull,
            struct(col("pos"), col("term"))))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") > 0,
          round(-col("__s") / col("n_bigrams"), 6)).as("xent"),
        when(col("n_bigrams") > 0,
          round(exp(-col("__s") / col("n_bigrams")), 6)).as("ppl"))
  }

  /** Inverted-index build — the search-engine primitive over the corpus:
    * one row per token with document frequency `df`, collection frequency
    * `cf`, and a bounded posting list (the first `postingCap` doc ids in
    * ascending order, comma-joined). Tokens below `minDf` are dropped —
    * hapaxes dominate the vocabulary and carry no retrieval value.
    *
    * EXACT cross-engine: df/cf are integers at any partitioning and the
    * posting string is a deterministic ascending join.
    *
    * Scale shape: the corpus-sized work is one explode + a partial/final
    * hash aggregate to (token, doc_id, tf) — map-side combine collapses
    * each partition's repeats before the shuffle. Stats are a second
    * vocabulary-sized hash aggregate over that. The posting cap is a
    * `row_number <= cap` filter that pushes down as WindowGroupLimit
    * (per-partition top-cap heaps prune before the per-token sort), so no
    * stop-word's billion-document posting list is ever materialized —
    * `collect_list` only ever sees <= cap rows per token. The final join
    * is vocabulary-sized on the token key. */
  def invertedIndex(
      documents: DataFrame,
      minDf: Long = 2L,
      postingCap: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(postingCap >= 1, s"postingCap must be >= 1, got $postingCap")
    val pairs = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    // NOTE (r6): deliberately KEPT as two branches over `pairs` rather
    // than fusing df/cf into windows on the posting exchange — the stats
    // branch partial-aggregates map-side (one row per token per
    // partition crosses) and the posting branch prunes to `postingCap`
    // rows per token BELOW the shuffle via WindowGroupLimit
    // (PlanSpec-pinned), so the fused single-exchange shape would ship
    // the entire (token, doc) table at 100 TB where this one ships
    // near-nothing. The price is a second pruned scan — the right trade.
    val stats = pairs.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .filter(col("df") >= minDf)
    val w = Window.partitionBy("token").orderBy(col("doc_id"))
    val postings = pairs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= postingCap)
      .groupBy("token")
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("doc_id"))),
          d => d.cast("string"))).as("postings"))
    stats.join(postings, "token")
      .select(col("token"), col("df"), col("cf"), col("postings"))
  }

  /** PMI bigram collocations — pointwise mutual information of adjacent
    * token pairs vs their unigram marginals, the classic phrase-mining /
    * tokenizer-merge-candidate query: pmi = ln p(w1,w2) − ln p(w1) − ln
    * p(w2) with bigram and unigram probabilities over their own totals.
    * Pairs below `minCount` are dropped (PMI is noise at tiny counts);
    * output is the deterministic global top-`topN` by (pmi DESC, w1, w2).
    *
    * EXACT cross-engine: all counts are integers; the score is a
    * LEFT-TO-RIGHT chain of six ln/± ops over them (the q65/q131 ln-parity
    * discipline), so raw doubles — and therefore the ranking — mirror the
    * oracle bit-for-bit.
    *
    * Scale shape: bigrams come from an array zip (slice/zip_with) — no
    * per-doc window, no positional explode join. Corpus-sized work is two
    * explode + hash-aggregate passes (unigram, bigram counts); the totals
    * are ONE scan-level aggregate (sum of sizes — never an explode) that
    * broadcasts as a 1-row table; marginal joins shuffle at
    * bigram-vocabulary granularity on the token keys; the top-N compiles
    * to TakeOrderedAndProject (per-partition heaps + driver merge of N). */
  def pmiCollocations(
      documents: DataFrame,
      minCount: Long = 5L,
      topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val base = documents.select(nonEmptyTokens.as("t"))
    // vocab-sized; the w1 and w2 attach joins share it
    val uni = Adaptive.materialize(unigramCounts(base))
    val totals = base.agg(
      sum(size(col("t")).cast("long")).as("nu"),
      sum(nBigrams.cast("long")).as("nb"))
    val big = bigramCounts(base).filter(col("c_xy") >= minCount)
    val scored = big
      .join(uni.select(col("tok").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi",
        log(col("c_xy").cast("double")) - log(col("nb").cast("double"))
          - log(col("c_x").cast("double")) + log(col("nu").cast("double"))
          - log(col("c_y").cast("double")) + log(col("nu").cast("double")))
    val top = scored
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(topN)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("pmi").desc, col("w1"),
          col("w2"))))
      .select(col("rank"), col("w1"), col("w2"), col("c_xy"), col("c_x"),
        col("c_y"), col("pmi"))
  }

  /** Interpolated Kneser-Ney bigram LM table — the training-side
    * counterpart to [[lmScore]]'s scoring pass: for each retained bigram,
    * the absolute-discounted probability
    * p_kn(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·) + λ(w1)·p_cont(w2) with
    * λ(w1) = D·N1+(w1·)/c(w1·) and p_cont(w2) = N1+(·w2)/|bigram types| —
    * Kneser & Ney 1995 / Chen & Goodman 1999, the standard smoothing for
    * count-based LMs. Rows below `minCount` are dropped from the OUTPUT
    * only; every continuation/context statistic is computed over the full
    * unfiltered bigram table, so the retained rows' probabilities are the
    * true model's.
    *
    * EXACT cross-engine: every statistic is an integer at any
    * partitioning; p_kn is a fixed chain of double ops over them, mirrored
    * verbatim in the oracle.
    *
    * Scale shape: one explode + hash aggregate to bigram counts; the four
    * derived statistics are vocabulary-sized hash aggregates OVER that
    * table (never a second corpus scan); joins shuffle at bigram-table
    * granularity on single-token keys; the type total broadcasts as one
    * row. */
  def knBigramLm(
      documents: DataFrame,
      discount: Double = 0.75,
      minCount: Long = 5L): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    // bigram-type-sized; ctx, cont, types and the smoothing chain share it
    val big = Adaptive.materialize(
      bigramCounts(documents.select(nonEmptyTokens.as("t"))))
    val ctx = big.groupBy("w1").agg(
      sum("c_xy").as("c_w1"), count(lit(1)).as("n_follow"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("n_precede"))
    val types = big.agg(count(lit(1)).as("n_types"))
    val d = lit(discount)
    big.filter(col("c_xy") >= minCount)
      .join(ctx, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(types))
      .withColumn("p_kn",
        greatest(col("c_xy").cast("double") - d, lit(0.0))
          / col("c_w1").cast("double")
          + (d * col("n_follow").cast("double")
              / col("c_w1").cast("double"))
            * (col("n_precede").cast("double")
              / col("n_types").cast("double")))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_w1"),
        col("n_follow"), col("n_precede"), col("p_kn"))
  }

  /** The whitespace tokens of `text` with empty strings dropped: the
    * token array that [[repetitionStats]], [[lmScore]],
    * [[pmiCollocations]] and [[knBigramLm]] count over. */
  private def nonEmptyTokens: Column = filter(tokens(col("text")), t => length(t) > 0)

  /** Adjacent pairs in a token array `t`; 0 for fewer than two tokens. */
  private def nBigrams: Column = greatest(size(col("t")) - 1, lit(0))

  /** `(tok, c)`: each token's count over the token arrays `t`. */
  private def unigramCounts(base: DataFrame): DataFrame =
    base.select(explode(col("t")).as("tok")).groupBy("tok").agg(count(lit(1)).as("c"))

  /** `(w1, w2, c_xy)`: each adjacent token pair's count over the token
    * arrays `t`, zipped from two slices (no positional explode). */
  private def bigramCounts(base: DataFrame): DataFrame =
    base
      .select(explode(zip_with(
        slice(col("t"), lit(1), nBigrams), slice(col("t"), lit(2), nBigrams),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
}
