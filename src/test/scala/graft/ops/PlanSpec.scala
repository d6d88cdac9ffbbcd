package graft.ops

import graft.pipeline.SparkTestBase

/** Physical-plan assertions for the scale-critical queries: these pin the
  * plans we actually want at 100× data (broadcasts where intended, no
  * cartesian products, digest-keyed shuffles, partial aggregation) so a
  * regression shows up as a test failure, not a slow cluster. */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private def available = new java.io.File(s"$dir/events.parquet").exists()

  private def plan(name: String): String = {
    assume(available, s"$dir not present")
    graft.Queries.all(name)(spark, dir).queryExecution.executedPlan.toString
  }

  test("q01 rollup: partial+final hash aggregation, pruned scan") {
    val p = plan("q01_rollup_1m")
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 2, "partial+final agg")
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("event_type"), s"scan must prune unused columns: $read")
  }

  test("q05 exact dedup: shuffles on the text digest, never the text") {
    val p = plan("q05_dedup_exact")
    // digest is projected (xxhash64(text) AS _w0) and the exchange keys on it
    assert(p.contains("xxhash64(text"), "digest projection present")
    val exchanges = p.split("\n").filter(_.contains("hashpartitioning("))
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("_w0")),
      s"exchange must key on the digest, not the text: ${exchanges.mkString}")
    // bonus: Spark's WindowGroupLimit pushes the top-1-per-group below the
    // shuffle (partial/final) — keep it that way
    assert(p.contains("WindowGroupLimit"), "rank-1 pushdown")
  }

  test("q09 brute-force topk: query side broadcast, corpus never shuffled") {
    val p = plan("q09_topk_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"), "deliberate broadcast NLJ")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
  }

  test("q16 minhash pairs: bucket-local equi-join, no cartesian product") {
    val p = plan("q16_minhash_pairs")
    assert(!p.contains("CartesianProduct"), "no all-pairs join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no unkeyed join")
  }

  test("q18 emb near-dup: pair dedup is hash-agg over ids+sim, post-filter") {
    val p = plan("q18_lsh_neardup_emb")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // score-then-dedup: the dedup exchange must carry (id, id, sim) rows,
    // never the embedding arrays (array agg buffers ⇒ SortAggregate)
    assert(!p.contains("SortAggregate"), "pair dedup degraded to SortAggregate")
    val dedupExchanges = p.split("\n")
      .filter(l => l.contains("hashpartitioning(vec_a"))
    assert(dedupExchanges.nonEmpty && dedupExchanges.forall(!_.contains("emb")),
      s"dedup exchange must not carry embeddings: ${dedupExchanges.mkString}")
  }

  test("q19 IVF: no cross join, no unpartitioned window") {
    val p = plan("q19_ivf_topk")
    assert(!p.contains("CartesianProduct"), "no corpus x centroids cross join")
    for (l <- p.split("\n") if l.trim.startsWith("Window") || l.contains("WindowExec"))
      assert(l.contains("query_id"), s"window must be partitioned: $l")
  }

  test("q26 transitions: keyed window + hash aggregation") {
    val p = plan("q26_state_transitions")
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 2)
    for (l <- p.split("\n") if l.trim.startsWith("Window"))
      assert(l.contains("user_id"), s"window must be partitioned: $l")
  }

  test("q37 retention tiers: tier fan-out on the 1m aggregate, cheap anchor") {
    val p = plan("q37_retention_expiry")
    // exactly 2 scans: the tier pipeline + the 1-row anchor max (a
    // data-derived TTL anchor inherently needs its own pass; it is pruned
    // to the ts column). The old shape was one event-sized scan+shuffle
    // PER TIER.
    val scans = p.split("\n").filter(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(scans.length == 2, s"expected tier + anchor scans, saw ${scans.length}:\n$p")
    assert(scans.forall(!_.contains("value")), "both scans prune the value column")
    assert(p.contains("Generate explode"), "tiers come from explode, not a re-scan union")
    assert(p.split("\n").count(_.contains("Generate explode")) == 1,
      "anchor must not re-run the tier fan-out")
  }

  test("q35 chunked multivariate: series assembly groups on (url, chunk)") {
    val p = plan("q35_mv_series_column")
    // the collect_list assembly must shuffle on the CHUNK key, not the raw
    // url — a url-keyed exchange would hand a whole mega url to one task
    // (the q28-measured straggler shape this query used to have)
    // Catalyst names the computed floor(bucket/chunkSpan) key
    // `_groupingexpression#N` in the exchange
    val exchanges = p.split("\n").filter(_.contains("hashpartitioning("))
    assert(exchanges.exists(e =>
        e.contains("_groupingexpression") || e.contains("chunk")),
      s"assembly exchange must include the chunk key:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q50 holt-winters: phases share ONE event-sized exchange at runtime") {
    assume(available, s"$dir not present")
    // phase 1 (chunk-map compose) and phase 3 (cogroup walk) both need the
    // events shuffled on (key, chunk); their subplans are identical, so AQE
    // must materialize the exchange once and reuse it — at 100 TB that is
    // the difference between one event-sized shuffle and two (plus a
    // second source scan). Every segmented scan runs on the same driver:
    // EWMA (q46), Holt (q49), CUSUM (q102) and the rate-limit audit (q133)
    for (q <- Seq("q50_holt_winters", "q46_ewma", "q49_holt_trend",
        "q102_cusum", "q133_rate_limit")) {
      val df = graft.Queries.all(q)(spark, dir)
      // collect() (not count()) so THIS QueryExecution's adaptive plan
      // finalizes — count() would plan and execute a different query
      assert(df.collect().nonEmpty, q)
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("ReusedExchange"),
        s"$q: expected the phase-1/phase-3 event exchange to be reused:\n" +
          finalPlan.split("\n").filter(l => l.contains("Exchange") ||
            l.contains("FileScan")).mkString("\n"))
    }
  }

  test("q41/q43: keyed window + single partial+final aggregate") {
    val w = plan("q41_delta_rate")
    for (l <- w.split("\n") if l.trim.startsWith("Window"))
      assert(l.contains("user_id"), s"window must be partitioned: $l")
    val h = plan("q43_value_histogram")
    assert(h.split("\n").count(_.contains("HashAggregate")) >= 2,
      "histogram needs map-side partial aggregation")
    assert(!h.contains("CartesianProduct") && !h.contains("BroadcastNestedLoopJoin"))
  }

  test("q64 stratified sample: rank filter pushes below the shuffle (WindowGroupLimit)") {
    val p = plan("q64_stratified_sample")
    // partial per-partition group-limit BEFORE the exchange is what keeps
    // the shuffle O(strata · n) instead of corpus-sized
    assert(p.contains("WindowGroupLimit"), s"rank<=n must compile to WindowGroupLimit:\n$p")
    assert(p.split("\n").count(_.contains("WindowGroupLimit")) >= 2,
      "want Partial AND Final group limits (map-side prune)")
  }

  test("q115 decontamination: eval grams broadcast, one train scan, doc-sized shuffle") {
    val p = plan("q115_decontamination")
    // the membership test must be a broadcast hash join on the gram hash —
    // a SortMergeJoin here would shuffle the corpus-sized exploded gram
    // stream at 100 TB
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram set must broadcast into the train gram stream:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // partial+final HashAggregate on doc_id: a doc's grams stay in their
    // partition, so the one exchange carries ~1 row per doc, not per gram
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 2,
      "per-doc counts must combine map-side")
    // the train corpus is scanned+shingled exactly once
    assert(p.split("\n").count(l => l.contains("FileScan") &&
      l.contains("documents")) == 2,
      s"one train scan + one eval scan only:\n$p")
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("lang") && !read.contains("source"),
      s"scan must prune to doc_id+text: $read")
  }

  test("q65 bm25: stats broadcast, corpus never shuffled, scan pruned to text+id") {
    val p = plan("q65_bm25")
    assert(p.contains("BroadcastNestedLoopJoin"), "1-row stats join must broadcast")
    assert(!p.contains("hashpartitioning(doc_id"), "corpus side must not shuffle")
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("lang") && !read.contains("source"),
      s"scan must prune unused columns: $read")
  }

  test("q61/q66 scrub + quantize: pure per-row maps, zero exchanges") {
    for (q <- Seq("q61_pii_scrub", "q66_embed_quantize")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    }
  }

  test("q60 shard export: one shard-keyed exchange, sort only within shards") {
    val p = plan("q60_shard_export")
    val exchanges = p.split("\n").filter(_.contains("hashpartitioning("))
    assert(exchanges.length == 1 && exchanges.head.contains("shard"),
      s"exactly one exchange, keyed on shard: ${exchanges.mkString}")
    // no global sort: every Sort node is the within-partition window sort
    for (l <- p.split("\n") if l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort "))
      assert(!l.contains("global=true"), s"no global sort allowed: $l")
  }

  test("q68 incremental refresh: delta is partial+final agg, prev joined not rescanned") {
    val p = plan("q68_incremental_refresh")
    // both sides aggregate partial+final (>=4 HashAggregate lines), then one
    // equi-join on (url, bucket_start) — never a cartesian/NLJ
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 4, "partial aggs both sides")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "aggregate-key equi-join only")
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("event_type") && !read.contains("props"),
      s"scans pruned to ts/user_id/value/event_id: $read")
  }

  test("q71 image features: one decode pass, zero exchanges") {
    val p = plan("q71_image_features")
    assert(!p.contains("Exchange"), s"pixel decode must not shuffle: $p")
    assert(p.contains("MapPartitions"), "batch-decode slot")
  }

  test("q69 dup spans: gram exchange keys on the 64-bit hash, never the text") {
    val p = plan("q69_dup_spans")
    assert(p.contains("positionalshingles") || p.contains("PositionalShingles") ||
      p.contains("positional_shingles"), s"native gram kernel in the plan")
    // every hash exchange keys on gram hash g / doc_id — none on raw text
    val exchanges = p.split("\n").filter(_.contains("hashpartitioning("))
    assert(exchanges.nonEmpty && exchanges.forall(l => !l.contains("text#")),
      s"no text-keyed shuffle: ${exchanges.mkString}")
    assert(!p.contains("CartesianProduct"), "no all-pairs join")
    // interval-union window is doc-partitioned, not global
    for (l <- p.split("\n") if l.trim.startsWith("Window"))
      assert(l.contains("doc_id"), s"window must be partitioned by doc: $l")
  }

  test("q73 ohlc: ONE partial+final hash aggregate, no window, no join") {
    val p = plan("q73_ohlc")
    assert(p.split("\n").count(_.contains("HashAggregate")) == 2,
      s"exactly partial+final agg — min_by/max_by must stay declarative:\n$p")
    assert(!p.contains("SortAggregate"),
      "candle must not fall back to sort-based aggregation")
    assert(!p.contains("Window") && !p.contains("Join"),
      "one aggregate, no window pass, no self-join")
    assert(p.split("\n").count(_.contains("hashpartitioning(")) == 1,
      "single exchange on the candle key")
  }

  test("q46/q49 smoother chunk summaries: hash aggregation, never SortAggregate") {
    // the chunk-summary agg runs over the EVENT-sized phase-1 output; a
    // struct-ordered min_by/max_by would silently degrade it (and its
    // per-partition partial pass) to SortAggregate
    assert(!plan("q46_ewma").contains("SortAggregate"))
    assert(!plan("q49_holt_trend").contains("SortAggregate"))
  }

  test("q78 range join: bucketized equi-join, never an inequality join") {
    val p = plan("q78_burst_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment must compile to a bucket-keyed equi-join:\n$p")
    assert(p.contains("Generate explode"), "interval bucket fan-out present")
  }

  test("q74 signal corr: events shuffled once (alignment), corr on aligned rows") {
    val p = plan("q74_signal_corr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair join must be bucket-keyed, not all-pairs")
    // the events-side scan feeds exactly one aggregate chain; the pair
    // self-join and corr run on the aligned (series, bucket) rows
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 4,
      "alignment partial+final plus corr partial+final")
    val reads = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!reads.contains("props") && !reads.contains("user_id"),
      s"scan must prune to (event_type, ts, value): $reads")
  }

  test("q75 seasonal decomposition: cells aggregated once, stats joined back") {
    val p = plan("q75_seasonal_decomp")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"),
      "decomposition must come from cell aggregates, not row windows")
    // phase-2 derivations run on the materialized cells (Scan ExistingRDD):
    // the events appear in the plan only for the annotate join
    assert(p.contains("Scan ExistingRDD"), "cells must be materialized and reused")
    val scans = p.split("\n").count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(scans == 1, s"events must be scanned once, for the annotate join, saw $scans:\n$p")
  }

  test("q92 tiered read: ONE events scan serves all three tiers") {
    val p = plan("q92_tiered_read")
    // tier and bucket are map-side CASE expressions feeding a single
    // partial+final hash aggregate — the q37 lesson (never a per-tier
    // rescan union). The anchor is collected before planning, so the plan
    // has exactly one scan.
    val scans = p.split("\n").filter(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(scans.length == 1, s"expected ONE events scan, saw ${scans.length}:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"))
    assert(!p.contains("Union"), "tiers must not come from a rescan union")
  }

  test("q96 histogram drift: cells aggregated once, consumers reuse the cache") {
    val p = plan("q96_histogram_drift")
    // four consumers (cells/totals and their shifted twins) must ALL read
    // the materialized cell table, not re-run the event-sized aggregate:
    // each reads it as a Scan ExistingRDD, and the events are never scanned
    val reads = p.split("\n").count(_.contains("Scan ExistingRDD"))
    assert(reads >= 4,
      s"all four cell consumers must read the materialized table, saw $reads:\n$p")
    assert(!p.contains("FileScan"), s"the event-sized aggregate must not re-run:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q118 lm score: 1-row vocab broadcast only, count joins are hash joins") {
    val p = plan("q118_lm_perplexity")
    // exactly ONE broadcast NLJ — the 1-row vocab anchor (the q65 stats
    // license); the bigram/unigram count joins must be keyed hash joins
    assert(p.split("\n").count(_.contains("BroadcastNestedLoopJoin")) == 1,
      s"only the vocab anchor may NLJ:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortAggregate"))
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("lang") && !read.contains("source"),
      s"scan must prune unused columns: $read")
  }

  test("q119 audience overlap: one DISTINCT pass feeds member-keyed equi-joins") {
    val p = plan("q119_audience_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "set algebra must stay equi-joined")
    assert(!p.contains("SortAggregate"), "distinct + counts stay hash-aggregated")
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("props") && !read.contains("value"),
      s"scan must prune unused columns: $read")
  }

  test("q139 inverted index: posting cap prunes below the shuffle") {
    val p = plan("q139_inverted_index")
    // rnk <= cap must compile to WindowGroupLimit with a map-side Partial
    // pass — otherwise a stop-word's full posting list crosses the wire
    assert(p.contains("WindowGroupLimit"),
      s"posting cap must compile to WindowGroupLimit:\n$p")
    assert(p.split("\n").count(_.contains("WindowGroupLimit")) >= 2,
      "want Partial AND Final group limits (map-side prune)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q142 trailing actives: dedup-first, no per-window distinct state") {
    val p = plan("q142_trailing_actives")
    // the (key, day) dedup must be a partial/final hash aggregate and the
    // spine join a keyed broadcast — never a range self-join
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 2,
      "dedup needs map-side partial aggregation")
    assert(p.contains("BroadcastHashJoin"), "day spine must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"), "no data-sized join anywhere")
  }

  // q09/q19/q152 broadcast a tiny query side into an NLJ by design
  // (plan-pinned; q152 adds the cross-language predicate to the same
  // brute-force shape);
  // q29 is a bounded ≤60-doc oracle pin with an explicit theta join;
  // q37/q65/q112/q118/q131 crossJoin a broadcast 1-ROW anchor/stats aggregate
  // (the SinglePartition exchange under it is the global agg producing that
  // one row — aggregate-sized, plan-pinned above)
  // q134/q140/q141 share the same 1-row (or topN-row: q137's top-200 grid)
  // broadcast-aggregate crossJoin shape
  private val allowedNlj =
    Set("q09_topk_cosine", "q19_ivf_topk", "q152_crosslingual_topk",
      "q29_jaccard_exact",
      "q37_retention_expiry", "q65_bm25", "q112_staleness",
      "q118_lm_perplexity", "q131_keywords", "q134_quality_gate",
      "q137_source_divergence", "q140_pmi_collocations",
      "q141_kneser_ney_lm", "q146_churn_survival")
  // q142's single-partition exchange is the 1-row min/max aggregate that
  // explodes into the broadcast day spine (span/86400000 rows); q143's is
  // the unpartitioned rolling window over the BUCKET-COUNT-sized hourly
  // aggregate (hours in the span — post-reduction, never event-sized)
  // q146's are the 1-row (N, maxDay) anchor plus the risk-set window and
  // curve fold over the lifetime SPECTRUM (distinct event times <= days in
  // span — post-reduction, never key-sized)
  private val allowedSinglePartition =
    Set("q37_retention_expiry", "q65_bm25", "q112_staleness",
      "q118_lm_perplexity", "q131_keywords", "q134_quality_gate",
      "q140_pmi_collocations", "q141_kneser_ney_lm",
      "q142_trailing_actives", "q143_rolling_corr",
      "q146_churn_survival")

  test("every query plans without scale antipatterns outside the allowlists") {
    // the sweep runs on the smallest scale: plan shape, not data, matters
    val sweepDir = new java.io.File(dir).getParent + "/sf0.001"
    assume(new java.io.File(s"$sweepDir/events.parquet").exists(), s"$sweepDir not present")
    val flags = graft.Queries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = try fn(spark, sweepDir).queryExecution.executedPlan.toString
        catch { case e: Exception => fail(s"$name failed to plan", e) }
      // min_by/max_by/first over STRUCT or ARRAY buffers silently
      // disqualify HashAggregateExec
      Seq("SortAggregate fallback" -> p.contains("SortAggregate"),
        "CartesianProduct" -> p.contains("CartesianProduct"),
        "BroadcastNestedLoopJoin outside allowlist" ->
          (p.contains("BroadcastNestedLoopJoin") && !allowedNlj(name)))
        .collect { case (msg, true) => s"$name: $msg" } ++
        // rangepartitioning(…, n) is fine; SinglePartition means some
        // operator pulled everything to one task
        (if (allowedSinglePartition(name)) Nil
         else p.split("\n").filter(_.contains("Exchange SinglePartition"))
           .map(l => s"$name: single-partition exchange: ${l.trim.take(120)}"))
    }
    assert(flags.isEmpty, flags.mkString("\n"))
  }
}
