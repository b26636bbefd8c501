package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan tripwires for the headline scale claims. Correctness
  * is the oracle's job; these assert the PLAN SHAPE stays the one
  * designed for 100 TB — a regression here can pass every value check
  * and still be a scale bug.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.plans(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q6_filter: predicates reach the parquet scan (PushedFilters)") {
    // the rendered plan truncates long filter lists — read the scan
    // node's un-truncated metadata instead
    val pushed = SparkEntry.plans("q6_filter")(spark, sf0001)
      .queryExecution.sparkPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata("PushedFilters")
      }.getOrElse(fail("no parquet scan found"))
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"),
      s"the shipdate range must be pushed, not post-filtered: $pushed")
    assert(pushed.contains("LessThan(l_discount") || pushed.contains("LessThanOrEqual(l_discount"),
      s"the discount band must be pushed: $pushed")
  }

  test("q6_filter: scan reads only the referenced columns") {
    val p = plan("q6_filter")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // the query touches quantity/extendedprice/discount/shipdate only
    assert(!scanLine.contains("l_orderkey") && !scanLine.contains("l_comment"),
      s"column pruning must drop unused lineitem columns:\n$scanLine")
  }

  test("q5_starjoin: every dimension joins as a broadcast, no SortMergeJoin") {
    val p = plan("q5_starjoin")
    assert(!p.contains("SortMergeJoin"),
      s"bounded dims must broadcast — fact-side joins stay map-only:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4, p)
  }

  test("q3_topn: ORDER BY + LIMIT plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_topn")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N must use per-partition heaps + driver merge:\n$p")
  }

  test("q_vocab_topk: partial-agg before the shuffle (Zipf-safe), TakeOrdered top-k") {
    val p = plan("q_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-k must not globally sort the vocabulary:\n$p")
    // the word shuffle must carry partial counts, not raw occurrences
    val exchangeIdx = p.linesIterator.indexWhere(_.contains("Exchange hashpartitioning(w"))
    val partialIdx = p.linesIterator.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("partial_count"))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"hot words must be condensed map-side before the shuffle:\n$p")
  }

  test("q_lm_perplexity: LM counts condense map-side; model joins never go cartesian") {
    // the serve plan (model arrives session-cached as ExistingRDD):
    // equi-join only, per-doc rollup partial-aggregates after the join
    val p = plan("q_lm_perplexity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the score pass must stay an equi-join on the model keys:\n$p")
    val lines = p.linesIterator.toVector
    val docExchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning(doc_id"))
    assert(docExchangeIdx >= 0, s"no per-doc rollup shuffle found:\n$p")
    val rollupBelow = lines.drop(docExchangeIdx + 1).find(_.contains("HashAggregate"))
    assert(rollupBelow.exists(_.contains("partial_count")),
      s"the per-doc rollup must partial-aggregate after the score join:\n$p")
    // the training stage (cached, so invisible above): the c12 model
    // shuffle must carry partial counts, not raw bigrams
    val tp = operators.TextOps.lmTrainModel(spark, sf0001)
      .queryExecution.executedPlan.toString
    val tl = tp.linesIterator.toVector
    val exchangeIdx = tl.indexWhere(l =>
      l.contains("Exchange hashpartitioning(lang") && l.contains("w2"))
    assert(exchangeIdx >= 0, s"no (lang, w1, w2) model shuffle found:\n$tp")
    val below = tl.drop(exchangeIdx + 1).find(_.contains("HashAggregate"))
    assert(below.exists(_.contains("partial_count")),
      s"hot bigrams must be condensed map-side before the model shuffle:\n$tp")
  }

  test("q_cluster_keywords: doc join precedes the token explode; counts condense map-side") {
    // the final plan: top-10 cuts early, nothing goes cartesian
    val p = plan("q_cluster_keywords")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"assignment and scoring must stay equi-joins:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the per-cluster top-10 must cut before the full vocab sorts:\n$p")
    // the materialized term-count stage (invisible above as ExistingRDD):
    // partial-agg before the (cluster, w) shuffle, explode AFTER the join
    val tfp = operators.Ann.clusterTermCounts(spark, sf0001)
      .queryExecution.executedPlan.toString
    val lines = tfp.linesIterator.toVector
    val exchangeIdx = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning(cluster") && l.contains("w#"))
    assert(exchangeIdx >= 0, s"no (cluster, w) term shuffle found:\n$tfp")
    val below = lines.drop(exchangeIdx + 1).find(_.contains("HashAggregate"))
    assert(below.exists(_.contains("partial_count")),
      s"hot terms must be condensed map-side before the shuffle:\n$tfp")
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    val docJoinIdx = lines.indexWhere(l =>
      l.contains("Join") && l.contains("doc_id"))
    assert(genIdx >= 0 && docJoinIdx > genIdx,
      s"token explode must sit ABOVE the doc_id join in the plan tree:\n$tfp")
  }

  test("plans.TopK: every per-group cut plans a partial limit under its partition key's exchange") {
    def key(name: String) = () => SparkEntry.plans(name)(spark, sf0001)
    // (frame, partition column, k) of every cut plans.TopK serves. Each
    // must plan `WindowGroupLimit … Partial` as the direct child of the
    // hash exchange on its partition column: a map task ships at most k
    // rows per group. Ranks under a checkpoint are judged on the frame
    // the device returns (q_repeat_purchase: firstTwoOrders; lpaRounds'
    // round 1: lpaRound1). q_embed_outlier and q_semdedup reach
    // centroidRanked, and q_graph_modularity lpaRounds, only under a
    // checkpoint; the same cuts are judged here through
    // q_centroid_assign, q_cluster_quality, q_label_prop and lpaRound1.
    // q_basket_pairs and q_link_predict (cappedBaskets) are exempt: their
    // k = BasketCap = 1024 is above
    // spark.sql.optimizer.windowGroupLimitThreshold (1000), so Spark
    // plans no partial limit there.
    val partial: Seq[(String, () => DataFrame, String, Int)] = Seq(
      "q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf", "q_ann_quantized", "q_ann_ivfadc",
      "q_ann_recall", "q_pq_recall", "q_quant_recall", "q_ann_probe_curve",
      "q_lsh_probe_curve", "q_hybrid_search"
    ).map(n => (n, key(n), "query_id", 5)) ++ Seq(
      ("q_ann_pq", key("q_ann_pq"), "query_id", 5),
      ("q_ann_pq", key("q_ann_pq"), "query_id", 20),
      ("q_cluster_keywords", key("q_cluster_keywords"), "cluster", 10),
      ("q_centroid_assign", key("q_centroid_assign"), "vec_id", 1),
      ("q_cluster_quality", key("q_cluster_quality"), "vec_id", 2),
      ("q_tfidf_keywords", key("q_tfidf_keywords"), "doc_id", 3),
      ("q_bigram_topk", key("q_bigram_topk"), "lang", 20),
      ("q_colloc_lift", key("q_colloc_lift"), "lang", 20),
      ("q_label_prop", key("q_label_prop"), "supp", 1),
      ("lpaRound1", () => operators.Analytics.lpaRound1(spark, sf0001)._2, "cust", 1),
      ("q_session_path", key("q_session_path"), "user_id", 5),
      ("q_kmv_overlap", key("q_kmv_overlap"), "event_type", 256),
      ("firstTwoOrders", () => operators.Segments.firstTwoOrders(spark, sf0001), "o_custkey", 2),
      ("q_window_rank", key("q_window_rank"), "p_brand", 3))
    // Cuts whose input the window below already clusters on query_id:
    // Spark needs no exchange and plans the limit Final-only, in the
    // same stage as that window.
    val inPlace = Seq(("q_hybrid_search", "query_id", 3), ("q_rrf_fusion", "query_id", 5))
    val plans = scala.collection.mutable.Map.empty[String, Vector[String]]
    def linesOf(name: String, df: () => DataFrame): Vector[String] =
      plans.getOrElseUpdate(name, df().queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head.linesIterator.toVector)
    def depth(l: String): Int = l.indexWhere(_.isLetter)
    def limitAt(lines: Vector[String], part: String, k: Int, mode: String): Int =
      lines.indexWhere(_.matches(
        s".*WindowGroupLimit \\[$part#\\d+L?\\], .*, row_number\\(\\), $k, $mode"))
    val bad = partial.flatMap { case (name, df, part, k) =>
      val lines = linesOf(name, df)
      val i = limitAt(lines, part, k, "Partial")
      val parent = lines.take(i).lastIndexWhere(l => i >= 0 && depth(l) < depth(lines(i)))
      if (parent >= 0 && lines(parent).matches(s".*Exchange hashpartitioning\\($part#\\d+L?, \\d+\\).*")) None
      else Some(s"$name: no partial top-$k on $part under its exchange:\n${lines.mkString("\n")}")
    } ++ inPlace.flatMap { case (name, part, k) =>
      val lines = linesOf(name, key(name))
      val i = limitAt(lines, part, k, "Final")
      // the first exchange or window below the limit must be a window
      val below = lines.drop(i + 1).takeWhile(l => i >= 0 && depth(l) > depth(lines(i)))
        .find(l => l.contains("Exchange") || l.contains("Window ["))
      if (below.exists(_.contains("Window ["))) None
      else Some(s"$name: no in-stage top-$k on $part:\n${lines.mkString("\n")}")
    }
    assert(bad.isEmpty, bad.mkString("\n\n"))
  }

  test("q_ann_lsh: probe side broadcasts; corpus side carries no pre-join exchange") {
    val exec = SparkEntry.plans("q_ann_lsh")(spark, sf0001).queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin") || exec.contains("BroadcastExchange"),
      s"the probed query keys must broadcast:\n$exec")
  }

  test("q_ann_ivf: cell assignment is a pure map — the corpus never shuffles before the probe join") {
    val p = plan("q_ann_ivf")
    assert(p.contains("graft_nearest_cell"),
      s"assignment must run through the native codebook expression:\n$p")
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      s"no per-vector shuffle anywhere in the IVF serve path:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the probe list must broadcast; the corpus side stays in place:\n$p")
  }

  test("q_ann_pq: native PQ kernels in the plan; query side broadcasts; no sort-merge anywhere") {
    val p = plan("q_ann_pq")
    // (graft_pq_lut is also in the plan but its Project line renders
    // truncated — the 16k-double codebook literal exhausts the node's
    // string budget before the expression name appears)
    assert(p.contains("graft_pq_codes") && p.contains("graft_adc_lookup"),
      s"coding and ADC scoring must run through the native kernels:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the Q₀-sized query/shortlist sides must broadcast — the corpus never sort-merges:\n$p")
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      s"no per-vector corpus shuffle anywhere in the PQ serve path:\n$p")
  }

  test("q_ann_ivfadc: both index halves prune to probed cells; rerank is a pushed point lookup") {
    val p = plan("q_ann_ivfadc")
    // the serve's returned plan is the stage-2 read: the float half
    // must be opened under the probed-cell PARTITION filter (nProbe/k
    // of the index dirs) AND the collected candidate ids as a pushed
    // parquet IN — a point lookup, never a float corpus scan
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"the rerank scan must prune to the probed cells:\n$p")
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"the candidate-id IN must reach the parquet scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"candidate pairs and queries are Q₀-sized broadcasts:\n$p")
  }

  test("q_safety_screen: map-only scoring, tokens split once, one source rollup") {
    val p = plan("q_safety_screen")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"lexicon scoring is per-row — no join, no explode:\n$p")
    assert(p.contains("hashpartitioning(source"),
      s"the one shuffle is the per-source rollup:\n$p")
    // tokens are normalized + split ONCE into a projected column (the
    // langPredFrom project-once rule): the three category filters
    // reference it, so the plan carries exactly one normalize and one
    // split of the text (r19: the hardened screen normalizes first)
    assert(p.sliding("graft_normalize_text".length)
      .count(_ == "graft_normalize_text") <= 1,
      s"text must normalize once, not once per category:\n$p")
    assert(p.sliding("split(".length).count(_ == "split(") <= 1,
      s"text must be split once, not once per category:\n$p")
  }

  test("q_dedup_exact: single hash-partitioned window, no global sort before it") {
    val p = plan("q_dedup_exact")
    // partitioned window → one Exchange hashpartitioning(content_md5...)
    assert(p.contains("hashpartitioning(content_md5"),
      s"dedup window must partition on the content hash:\n$p")
  }

  test("q_contamination: benchmark set broadcasts; corpus rolls up on one doc_id shuffle") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded benchmark gram set must broadcast, never shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-wide join shuffle:\n$p")
    // per-doc gram dedup is ROW-LOCAL (array_distinct inside the
    // generator) — the only corpus-side shuffle is the per-doc rollup
    assert(p.contains("array_distinct"),
      s"per-doc gram set-dedup must stay row-local, not a (doc_id, g) shuffle:\n$p")
    assert(p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(doc_id")) === 1,
      s"corpus-side shuffle must be the per-doc rollup, nothing more:\n$p")
  }

  test("q_contamination_fuzzy: every join against the bounded benchmark side broadcasts") {
    // the asymmetric-banding contract: the benchmark band table, the
    // candidate table, and the benchmark shingle sets all broadcast —
    // the corpus side is map-only signature work, and its shingle
    // arrays never ride a join exchange
    val p = plan("q_contamination_fuzzy")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-wide sort-merge join anywhere in the fuzzy screen:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"band probe, candidate attach and bench-set attach must broadcast:\n$p")
  }

  test("q_basket_pairs: direct pair self-join — no a-priori semi (adjudicated out)") {
    // VERDICT r12 #2 delivered an a-priori qualifying-supplier
    // semi-join; round 13 REMOVED it on measurement (see the
    // qBasketPairs scaladoc): minimum supplier degree is 518 vs
    // MinSupport 3 at sf0.1 (zero pruning, and degree grows with
    // scale) while the semi destabilized the AQE plan (bimodal
    // 2.8-6.1 s vs a stable 3.6 s direct join). This pin flips the
    // old one: a semi join REAPPEARING here means someone re-added
    // the pre-filter without re-running that A/B.
    val p = plan("q_basket_pairs")
    assert(!p.contains("LeftSemi"),
      s"the a-priori pre-filter was measured a net loss — see qBasketPairs scaladoc:\n$p")
  }

  test("q_stream_sliding: windows assign via bounded Expand, not a range join") {
    val p = plan("q_stream_sliding")
    assert(p.contains("Expand"),
      s"sliding windows must be a 1-to-2 Expand before the partial aggregate:\n$p")
    assert(!p.contains("Join"), s"no join anywhere in a window assignment:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"one shuffle, on (window, event_type):\n$p")
  }

  test("q_session_window: native session windows shuffle ONCE, same as manual q_sessionize") {
    for (q <- Seq("q_sessionize", "q_session_window")) {
      val p = plan(q)
      assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
        s"$q must shuffle exactly once on user_id:\n$p")
    }
  }

  test("q_rrf_fusion: both rank windows and the fused cut share ONE query_id exchange") {
    val p = plan("q_rrf_fusion")
    // AQE appends the initial plan — judge the final plan only
    val finalPlan = p.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size === 1,
      s"cosine-rank, dot-rank and fused-rank windows must ride one shuffle:\n$finalPlan")
    assert(exchanges.head.contains("query_id"), s"the one shuffle keys on query_id:\n$finalPlan")
    assert(finalPlan.linesIterator.count(_.contains("Window [row_number()")) === 3,
      s"three window passes (ra, rb, fused) expected:\n$finalPlan")
  }

  test("q_repetition: map-only — one projection over the scan, zero shuffles") {
    val p = plan("q_repetition")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Generate"),
      s"per-row signals must never explode or shuffle the corpus:\n$p")
    assert(p.contains("graft_repetition_stats"),
      s"the native one-pass expression must be in the plan:\n$p")
  }

  test("q_quality_score: map-only, one-pass — no split/regex re-scans of the text") {
    val p = plan("q_quality_score")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Generate"),
      s"quality features are per-row — the corpus must not shuffle or explode:\n$p")
    assert(p.contains("graft_quality_stats"),
      s"the native one-pass expression must be in the plan:\n$p")
    assert(!p.contains("split(") && !p.contains("regexp"),
      s"no residual per-feature text re-traversals (3×split + 2×regex was the r17 cost):\n$p")
  }

  test("q_char_diversity: map-only — the char explode and its two shuffles are gone") {
    val p = plan("q_char_diversity")
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Generate"),
      s"per-doc char counters are per-row — no explode, no shuffle:\n$p")
    assert(p.contains("graft_char_diversity_stats"),
      s"the native one-pass expression must be in the plan:\n$p")
  }

  test("q_pii_scrub: map-only — pure regex projection, zero shuffles or joins") {
    val p = plan("q_pii_scrub")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      s"the scrub must stay a per-row projection over the scan:\n$p")
  }

  test("q_pack_sequences: window and per-pack rollup share ONE (lang,lane) exchange") {
    val p = plan("q_pack_sequences")
    // (lang, lane) partitioning satisfies the rollup's (lang, lane,
    // pack_id) requirement — a second exchange here means the rollup
    // stopped reusing the window's shuffle
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"packing must be one lane-sharded shuffle end-to-end:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q_inverted_index: both shuffles carry partial aggregates; top-50 never global-sorts") {
    val p = plan("q_inverted_index")
    assert(p.contains("TakeOrderedAndProject"),
      s"term top-k must be per-partition heaps + driver merge:\n$p")
    val lines = p.linesIterator.toVector
    val tfExchange = lines.indexWhere(l => l.contains("Exchange hashpartitioning(w") && l.contains("doc_id"))
    // search BELOW the exchange: the term rollup's own partial agg sits above it
    val tfPartial = lines.indexWhere(
      l => l.contains("HashAggregate") && l.contains("partial_count"), tfExchange + 1)
    assert(tfExchange >= 0 && tfPartial > tfExchange,
      s"raw word occurrences must condense map-side before the (term,doc) shuffle:\n$p")
    assert(lines.count(_.contains("Exchange hashpartitioning")) === 2,
      s"(term,doc) tf + term rollup = exactly two shuffles (window shares the term one):\n$p")
  }

  test("q_scd2: one customer shuffle shared by change-detect and versioning windows") {
    val p = plan("q_scd2")
    val lines = p.linesIterator.toVector
    assert(lines.count(_.contains("Exchange")) === 1,
      s"lag filter and lead/row_number must share ONE o_custkey exchange:\n$p")
    assert(lines.exists(_.contains("Exchange hashpartitioning(o_custkey")), p)
    assert(lines.count(_.contains("Window")) === 2,
      s"expected exactly the change-detect and versioning windows:\n$p")
  }

  test("q_bm25: stats branch reuses the per-doc shuffle; top-20 is TakeOrdered") {
    val df = SparkEntry.plans("q_bm25")(spark, sf0001)
    df.collect() // finalize THIS dataframe's AQE plan (count() would plan separately)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"retrieval top-k must be per-partition heaps + driver merge:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the corpus-stats branch must serve from the scoring branch's doc_id shuffle, " +
        s"not re-tokenize the corpus:\n$p")
    val lines = p.linesIterator.toVector
    val docExchange = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning(doc_id") && !l.contains("Reused"))
    val docPartial = lines.indexWhere(
      l => l.contains("HashAggregate") && l.contains("partial_count"), docExchange + 1)
    assert(docExchange >= 0 && docPartial > docExchange,
      s"token occurrences must condense to (dl, tf…) map-side before the doc shuffle:\n$p")
  }

  test("q_approx_percentiles: sketch aggregates partially map-side, audit joins as broadcast") {
    val p = plan("q_approx_percentiles")
    assert(p.contains("partial_percentile_approx"),
      s"the sketch must merge bounded summaries, not ship raw values to one reducer:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 3-row sketch result must broadcast back onto the audit scan:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_cdc_apply: latest-wins folds as a partial aggregate, not a window over all changes") {
    val p = plan("q_cdc_apply")
    val lines = p.linesIterator.toVector
    assert(!p.contains("Window"),
      s"the changelog fold must not ship every change row to a sorted window:\n$p")
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning(user_id"))
    val partial = lines.indexWhere(
      l => l.contains("Aggregate") && l.contains("partial_max_by"), exchange + 1)
    assert(exchange >= 0 && partial > exchange,
      s"per-key max_by state must condense map-side before the key shuffle:\n$p")
    assert(lines.count(_.contains("Exchange")) === 1,
      s"one key shuffle total:\n$p")
  }

  test("q_dedup_segment: one-shuffle window frequency marking over the segment hash") {
    // r21 (4e5783f) replaced the aggregate-then-join-back frequency rule
    // with sum-over-window on the gm partition: ONE gm shuffle and ONE
    // window-hash derivation instead of two of each. This pin guards
    // that shape (the old pin asserted the join-back's map-side partial
    // count and went stale with the rewrite — caught by the r22
    // inherited-state test run).
    val p = plan("q_dedup_segment")
    val lines = p.linesIterator.toVector
    assert(lines.count(_.contains("Exchange hashpartitioning(gm")) === 1,
      s"exactly one segment-hash shuffle (the window's):\n$p")
    assert(lines.count(_.contains("Generate explode")) === 1,
      s"the corpus-token-sized window table must derive ONCE:\n$p")
    val gmExchange = lines.indexWhere(_.contains("Exchange hashpartitioning(gm"))
    val win = lines.indexWhere(l => l.contains("Window") && l.contains("gm"))
    assert(win >= 0 && win < gmExchange,
      s"frequencies must come from a window over the gm partition, not a join-back:\n$p")
    // the doc rollup above the window still condenses map-side
    val docExchange = lines.indexWhere(_.contains("Exchange hashpartitioning(doc_id"))
    val docPartial = lines.indexWhere(
      l => l.contains("HashAggregate") && l.contains("partial_count"), docExchange + 1)
    assert(docExchange >= 0 && docPartial > docExchange && docPartial < win,
      s"the per-doc rollup must partial-aggregate before its shuffle:\n$p")
  }

  test("q_profile: six pruned-column branches, no Expand, corpus aggs stay hash-based") {
    val p = plan("q_profile")
    assert(!p.contains("Expand"),
      s"the multi-DISTINCT Expand spelling must not come back:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 6,
      s"one column-pruned scan per profiled column:\n$p")
    // corpus-sized first-stage aggregates are HashAggregate in every
    // branch; sort-based aggregation may only appear above an Exchange
    // (i.e. on post-shuffle |distinct|-sized input, for string min/max)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("SortAggregate")).foreach { case (_, i) =>
      assert(lines.drop(i + 1).takeWhile(!_.contains("Scan parquet"))
          .exists(l => l.contains("Exchange") || l.contains("SortAggregate")),
        s"SortAggregate touching corpus-sized input:\n$p")
    }
  }

  test("q_embed_centroid: explode is partial-aggregated before its single shuffle") {
    val p = plan("q_embed_centroid")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"one (label, dim) shuffle, nothing else:\n$p")
    val lines = p.linesIterator.toVector
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(lines.drop(ex + 1).exists(_.contains("HashAggregate")),
      s"partial aggregate must run below the exchange (map-side combine):\n$p")
  }

  test("q_bpe_pairs: vocab-bounded shuffles only, top-k as TakeOrdered") {
    val p = plan("q_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap, not a global sort:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 2,
      s"exactly the word-frequency and pair shuffles:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"the corpus must never shuffle on doc_id:\n$p")
  }

  test("q_zorder_layout: one partial-aggregated shuffle on the curve bucket") {
    val p = plan("q_zorder_layout")
    assert(p.linesIterator.count(_.contains("Exchange")) === 1,
      s"one bucket shuffle, nothing else:\n$p")
    assert(!p.contains("SortAggregate"), s"bucket agg must stay hash-based:\n$p")
  }

  test("q_chunk_docs: map-only — Generate + projection, zero shuffles") {
    val p = plan("q_chunk_docs")
    assert(!p.contains("Exchange"),
      s"chunking must stay a per-row Generate — any shuffle is a regression:\n$p")
    assert(p.contains("Generate"), s"expected the chunk-id explode:\n$p")
  }

  test("q_tfidf_keywords: df is a rollup of the tf table, joined broadcast") {
    val p = plan("q_tfidf_keywords")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-sized df table must broadcast, not shuffle-join the tf table:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 2,
      s"df must derive from tf, never a second corpus pass per branch:\n$p")
  }

  test("q_streak_islands: distinct condenses map-side; windows/rollups reuse the user key") {
    val p = plan("q_streak_islands")
    val lines = p.linesIterator.toVector
    val ex = lines.indexWhere(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(ex >= 0, s"expected a user-keyed shuffle:\n$p")
    assert(lines.drop(ex + 1).exists(l => l.contains("HashAggregate") && l.contains("keys=[user_id")),
      s"the (user, day) distinct must partial-aggregate below its shuffle:\n$p")
    assert(lines.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"island window and both rollups must share the user partitioning:\n$p")
  }

  test("q_disorder_stats: one user shuffle feeds the running-max window; rollup partial-aggs") {
    val p = plan("q_disorder_stats")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) === 1,
      s"exactly one user-keyed shuffle:\n$p")
    val lines = p.linesIterator.toVector
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning(event_type"))
    assert(ex >= 0 && lines.drop(ex + 1).exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"the event_type rollup must combine map-side:\n$p")
  }

  test("q_ntile_bands: the decile rollup reuses the window's priority partitioning") {
    val p = plan("q_ntile_bands")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"one shuffle on the grouping key — the rollup must not re-exchange:\n$p")
  }

  test("q_centroid_assign: model-sized centroid table broadcasts; corpus shuffles once") {
    val p = plan("q_centroid_assign")
    assert(p.contains("BroadcastHashJoin"),
      s"the label×dim centroid table is a model parameter — broadcast it:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"assignment must never shuffle-join the exploded corpus:\n$p")
  }

  test("q_mode: struct-max aggregation — no Window, no rank sort, partial-agged shuffles") {
    val p = plan("q_mode")
    assert(!p.contains("Window"),
      s"mode must fold in one associative aggregate, not a ranked window:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"both aggregate stages must combine map-side:\n$p")
  }

  test("q_grouped_concat: bounded collect_set partial-aggregates before the order shuffle") {
    val p = plan("q_grouped_concat")
    val lines = p.linesIterator.toVector
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning(l_orderkey"))
    assert(ex >= 0, s"one shuffle on the grouping key:\n$p")
    assert(lines.drop(ex + 1).exists(l =>
        l.contains("ObjectHashAggregate") && l.contains("partial")),
      s"the flag set must condense map-side (bounded domain), not ship raw rows:\n$p")
  }

  test("q_gap_fill: calendar joins broadcast — the generated day spine never shuffles") {
    val p = plan("q_gap_fill")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"day-count-sized sides must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a calendar-bounded join must never sort-merge:\n$p")
  }

  test("q_asof_dim: the SCD2 lookup is an equi join on the customer key, never range-exploded") {
    val p = plan("q_asof_dim")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the validity-range predicate must ride an equi custkey join as residual:\n$p")
  }

  test("q_oov_rate: model-sized vocabulary broadcasts; the exploded corpus never sort-merges") {
    val p = plan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"),
      s"the top-k vocabulary is a model parameter — broadcast it:\n$p")
    val lines = p.linesIterator.toVector
    val smjIdx = lines.zipWithIndex.filter(_._1.contains("SortMergeJoin"))
    // the only allowed SMJ is the final doc_id re-join of two doc-sized
    // sides; the exploded word stream must never reach one
    assert(!smjIdx.exists { case (l, _) => l.contains("(w") },
      s"word-stream joins must stay broadcast:\n$p")
  }

  test("q_train_test_split: map-only assignment, one partial-agged shuffle on the split key") {
    val p = plan("q_train_test_split")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"a hash split is a projection — no window, no join:\n$p")
    val lines = p.linesIterator.toVector
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning(split"))
    assert(ex >= 0 && lines.drop(ex + 1).exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"per-split counters must combine map-side:\n$p")
  }

  test("q_shard_plan: global rank via range exchange, never a single-partition window") {
    val p = plan("q_shard_plan")
    assert(!p.contains("Window"),
      s"the size rank must come from rankedId, not a global window:\n$p")
    // rankedId's range exchange lives inside its zipWithIndex pipeline;
    // downstream the rank arrives as an RDD scan — assert that source
    assert(p.contains("Scan ExistingRDD"),
      s"rank must arrive from rankedId's zipWithIndex pipeline:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"the shard rollup must combine map-side:\n$p")
  }

  test("q_winsorize: group-sized fences broadcast back; both passes partial-aggregate") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"the |groups|-row fence table must broadcast onto the second scan:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"IQR winsorization is two aggregates + a broadcast — nothing else:\n$p")
  }

  test("q_unpivot: one Expand over the pruned scan, partial-agged rollup") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"),
      s"unpivot must plan as Expand — never a per-measure re-scan union:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) === 1,
      s"one scan feeds all four measures:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"the 4x row inflation must combine map-side:\n$p")
  }

  test("q_range_frame: one customer shuffle feeds the RANGE window") {
    val p = plan("q_range_frame")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"the trailing-window query moves the corpus exactly once:\n$p")
    assert(p.contains("RangeFrame"), s"the frame must be a RANGE frame:\n$p")
  }

  test("q_session_path: prefix filter bounds collect state; top-k is TakeOrdered") {
    val p = plan("q_session_path")
    assert(p.contains("TakeOrderedAndProject"),
      s"path top-k must never globally sort the path table:\n$p")
    val lines = p.linesIterator.toVector
    val filt = lines.indexWhere(l => l.contains("Filter") && l.contains("rk"))
    val agg = lines.indexWhere(l => l.contains("ObjectHashAggregate") && l.contains("collect_list"))
    assert(filt >= 0 && agg >= 0 && filt > agg,
      s"the rk <= steps filter must run BELOW the collect (bounded state):\n$p")
  }

  test("q_skew_report: first shuffle on the high-cardinality composite (immune to its own skew)") {
    val p = plan("q_skew_report")
    // the tree renders top-down, so the first EXECUTED exchange is the
    // last one in the rendered text
    val first = p.linesIterator.toVector.reverse
      .find(_.contains("Exchange hashpartitioning")).getOrElse("")
    assert(first.contains("event_type") && first.contains("user_id"),
      s"the profiler must spread hot types across the composite, not funnel them:\n$first")
  }

  test("q_rfm: quintiles come from the scale-safe rank — no window anywhere in the plan") {
    // a NTILE(5)/ROW_NUMBER global window over customers is the
    // single-partition scale-killer rankedId exists to avoid
    val p = plan("q_rfm")
    assert(!p.contains("Window"),
      s"RFM scoring must rank via Surrogate.rankedId, never a global window:\n$p")
  }

  test("q_interval_coalesce: both windows and the rollup share ONE user_id exchange") {
    val p = plan("q_interval_coalesce")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"islands must reuse the user_id partitioning end to end:\n$p")
  }

  test("q_bigram_topk: bigrams generate map-only — no corpus shuffle on doc_id") {
    val p = plan("q_bigram_topk")
    assert(p.contains("zip_with"),
      s"bigram build must zip the word array against its shift, row-local:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"the lag-window formulation's per-doc shuffle must not appear:\n$p")
  }

  test("q_embed_stats: per-dim stats partial-aggregate before the dim shuffle") {
    val p = plan("q_embed_stats")
    val lines = p.linesIterator.toVector
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning(dim"))
    val partialIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("partial_count"))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"every map partition must reduce to |dims| rows before moving:\n$p")
  }

  test("q_grouping_sets: one Expand feeds one partial-aggregated shuffle") {
    val p = plan("q_grouping_sets")
    assert(p.linesIterator.count(_.contains("Expand")) === 1,
      s"grouping sets must multiply rows once, before the partial aggregate:\n$p")
    assert(!p.contains("Union"),
      s"the per-set UNION ALL formulation re-scans the fact per set:\n$p")
  }

  test("q_hll_union: the rollup level consumes sketches, not raw events") {
    val p = plan("q_hll_union")
    assert(p.contains("hll_sketch_agg") && p.contains("hll_union_agg"),
      s"daily sketches must merge via union-agg — never a second raw-event distinct:\n$p")
  }

  test("shared-subtree queries never re-scan the corpus for a second consumer") {
    // rev/spend/cust feed BOTH a scalar rollup and the main projection;
    // a shared DataFrame subtree is re-derived per consumer, so these
    // materialize the reduced table once (localCheckpoint) — the final
    // plan must contain ZERO parquet scans of the corpus table
    def corpusScans(name: String, table: String): Int =
      SparkEntry.plans(name)(spark, sf0001)
        .queryExecution.executedPlan.toString.linesIterator
        .count(l => l.contains("FileScan parquet") && l.contains(table))
    assert(corpusScans("q_share_threshold", "lineitem") === 0,
      "the part-revenue table must be checkpointed, not re-derived for the total")
    assert(corpusScans("q_pareto", "orders") === 0,
      "customer spend must be checkpointed, not re-derived for the total")
    assert(corpusScans("q_rfm", "orders") === 0,
      "the customer aggregate must be checkpointed ahead of the rank chain")
    // the k-battery explodes from ONE aggregate row — a per-k union
    // would scan documents once per k; the word-frequency table is
    // materialized (top-k probe + battery both consume it), so the
    // final plan scans no documents at all
    assert(corpusScans("q_vocab_coverage", "documents") === 0,
      "the coverage battery must share one materialized corpus aggregate")
    // tiny-histogram / daily-series / lang-strata re-derivations
    // (q_mad_outlier's plan held SEVEN lineitem scans before the fix)
    assert(corpusScans("q_mad_outlier", "lineitem") === 0,
      "the value histogram must be checkpointed, each median pass re-derived it")
    assert(corpusScans("q_autocorr", "orders") === 0 &&
           corpusScans("q_changepoint", "orders") === 0 &&
           corpusScans("q_gap_fill", "orders") === 0,
      "the daily series must be checkpointed before the calendar join")
    assert(corpusScans("q_mix_temperature", "documents") === 0,
      "lang strata must be checkpointed before the normalizer crossJoin")
    assert(corpusScans("q_semdedup", "embeddings") === 0,
      "the assigned-cluster table must be materialized: both self-join " +
        "sides and the verdict select consume it")
    // retention's cohort comes from a min window on the SAME shuffle,
    // not an aggregate-then-join re-derivation
    assert(corpusScans("q_retention", "events") === 1,
      "retention must scan the corpus exactly once")
  }

  test("q_fact_build / q_star_report: date/time keys are row expressions, not re-scanned dims") {
    // date/time ids and attributes are pure functions of each row's
    // timestamp; deriving a dimension from events and joining it back
    // re-scans the staging table once per dimension side. Broadcast
    // sides count. The ranked user dimension reads events through its
    // RDD, so the fact build's scans are the fact rows and the type dim.
    for ((name, want) <- Seq("q_fact_build" -> 2, "q_star_report" -> 1)) {
      val p = plan(name).split("== Initial Plan ==")(0)
      val scans = p.linesIterator
        .count(l => l.contains("FileScan parquet") && l.contains("events.parquet"))
      assert(scans === want, s"$name scans events $scans times, want $want:\n$p")
    }
  }

  test("q_vocab_coverage: no window anywhere — the rank is a broadcast top-k table") {
    // the old shape ranked the ENTIRE vocabulary through an
    // unpartitioned row_number window (one partition holding every
    // distinct token — 10^9 at 100 TB) when only rk <= max(k) is ever
    // consumed. The rank must come from a TakeOrdered top-k collected
    // and re-broadcast, leaving NO Window operator in the plan.
    val p = plan("q_vocab_coverage")
    assert(!p.contains("Window"),
      s"coverage must never rank the full vocabulary through a window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the top-k rank table must broadcast onto the vocabulary:\n$p")
  }

  test("q_sample_uniform: hash-rank sample is TakeOrdered over a map-only scan") {
    val p = plan("q_sample_uniform")
    assert(p.contains("TakeOrderedAndProject"),
      s"fixed-size sampling must be per-partition heaps, not a global sort:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no shuffle anywhere in a hash-rank sample:\n$p")
  }

  test("q_hhi: nation-sized totals broadcast back onto suppliers — no SortMergeJoin") {
    val p = plan("q_hhi")
    assert(!p.contains("SortMergeJoin"),
      s"dims and the nation totals table must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_holiday_lift: the holiday tag is an expression — no join; day rollup partial-aggregates") {
    val p = plan("q_holiday_lift")
    assert(!p.contains("Join"),
      s"the holiday calendar is a pure expression on the day key, never a join:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"the day-grain rollup must combine map-side:\n$p")
  }

  test("q_sliding_reach: production mode serves from the sketch table alone — zero raw-event scans") {
    // audit mode (default): the exact-distinct branch adds the ONE
    // events scan visible in the served plan (the sketch build's own
    // single scan already ran inside the eager materialization)
    def eventsScans(p: String): Int =
      p.split("== Initial Plan ==")(0).linesIterator
        .count(l => l.contains("FileScan parquet") && l.contains("events.parquet"))
    val auditPlan = plan("q_sliding_reach")
    assert(eventsScans(auditPlan) === 1,
      s"audit mode: exactly the exact-branch scan:\n$auditPlan")
    spark.conf.set(graft.operators.ScaleOps.ReachExactKey, "false")
    try {
      val prod = SparkEntry.plans("q_sliding_reach")(spark, sf0001)
      val prodPlan = prod.queryExecution.executedPlan.toString
      assert(eventsScans(prodPlan) === 0,
        s"production mode must never re-touch raw events:\n$prodPlan")
      assert(prod.columns.toSeq === Seq("event_type", "day", "est"))
      assert(prod.count() > 0)
    } finally spark.conf.set(graft.operators.ScaleOps.ReachExactKey, "true")
  }

  test("graph queries share one materialized co-purchase checkpoint per session") {
    import org.apache.spark.sql.execution.LogicalRDD
    def rddIds(name: String): Set[Int] =
      SparkEntry.plans(name)(spark, sf0001).queryExecution.optimizedPlan.collect {
        case l: LogicalRDD => l.rdd.id
      }.toSet
    // q_components folds its own per-round label checkpoints, so compare
    // the two queries whose final plans still scan the graph tables
    val a = rddIds("q_degree_stats") // scans deg only
    val b = rddIds("q_pagerank")     // scans eb + deg
    assert(a.nonEmpty && b.nonEmpty, "both graph queries scan the checkpointed graph")
    assert((a intersect b).nonEmpty,
      s"degree table must come from the SAME checkpoint RDD in both queries: $a vs $b")
  }

  test("r13 additions: shared subtrees are materialized, base tables never re-scanned") {
    def scans(name: String, table: String): Int =
      SparkEntry.plans(name)(spark, sf0001)
        .queryExecution.executedPlan.toString.linesIterator
        .count(l => l.contains("FileScan parquet") && l.contains(table))
    // self_overlap: the per-distinct-text gram table feeds BOTH the df
    // aggregate and the join probe — materialized, so the only
    // documents scan left in the final plan is the member-expansion
    // side of the r15 canonicalization (tkey → source, pruned). A
    // second scan would mean the gram explode is being re-derived per
    // consumer again.
    assert(scans("q_self_overlap", "documents") === 1,
      "gram table must be checkpointed: one member-expansion scan only")
    // source_overlap: the deduped (source, family) inventory feeds the
    // count table and both self-join sides
    assert(scans("q_source_overlap", "documents") === 0,
      "the inventory must be checkpointed once for all three consumers")
    // graph family: the co-purchase checkpoint serves the LPA rounds —
    // no re-derive of the orders x lineitem join anywhere
    for (q <- Seq("q_link_predict", "q_label_prop", "q_graph_modularity")) {
      assert(scans(q, "orders.parquet") === 0, s"$q must reuse the graph checkpoint")
      assert(scans(q, "lineitem.parquet") === 0, s"$q must reuse the graph checkpoint")
    }
    // link_predict: top-K is a TakeOrdered, never a global-sort window
    val lp = plan("q_link_predict")
    assert(lp.contains("TakeOrderedAndProject"),
      s"the top-K must be a distributed TakeOrdered:\n$lp")
    // zipf_fit: the regression consumes a model-sized TakeOrdered of
    // the vocab — a full-vocab Window over corpus rows is the
    // scale-killer this pin guards against
    val zf = plan("q_zipf_fit")
    assert(zf.contains("TakeOrderedAndProject"),
      s"top-V vocab must be a TakeOrdered:\n$zf")
  }

  test("q_entity_match: block exchange is user-pinned — AQE must not coalesce the verify") {
    // the verify stage is CPU-bound after a small-BYTES shuffle; AQE's
    // byte-based coalescing collapsed it to one partition on a 10×
    // replica (13 min single-threaded). A user-specified repartition
    // count is the one exchange AQE never coalesces — pin it.
    val p = plan("q_entity_match")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"the bkey exchange must be a fixed-count user repartition:\n$p")
  }

  test("bounded-window tripwire: every unpartitioned window rides a bounded input (VERDICT r13 #6)") {
    // An unpartitioned Window moves ALL its input to one task — fine
    // over dims, day series, top-k and bucket tables, a scale-killer
    // over anything corpus-sized. This sweep turns the per-site doc
    // comments into CI: walk every registered plan's optimized tree,
    // find Window nodes with an empty partitionSpec, and COUNT each
    // one's input. The cap separates the populations measured at both
    // oracle scales: the largest legitimate site is the 2405-row
    // calendar-bounded day series (identical at sf0.001 and sf0.01,
    // i.e. corpus-independent) while the smallest corpus table at
    // sf0.01 is 5000 docs — any new corpus-sized window lands far
    // above 3000 and fails here by name.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.GraftBridge
    val Cap = 3000L
    def sweep(sf: String, only: Option[Set[String]]): Seq[(String, Long)] = {
      val sites = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      for ((name, fn) <- SparkEntry.plans.toSeq.sortBy(_._1)
           if only.forall(_.contains(name))) {
        fn(spark, sf).queryExecution.optimizedPlan.foreach {
          case w: LWindow if w.partitionSpec.isEmpty =>
            sites += ((name, GraftBridge.ofRows(spark, w.child).count()))
          case _ =>
        }
      }
      sites.toSeq
    }
    val small = sweep(sf0001, None)
    val offenders = small.filter(_._2 > Cap)
    assert(offenders.isEmpty,
      s"unpartitioned windows over > $Cap rows:\n${offenders.mkString("\n")}")
    // NAMED site census (ADVICE r14): a NEW unpartitioned window must
    // be reviewed (bounded by construction?) and consciously added
    // here — the diff below names the offender instead of a bare size
    // mismatch. Values = sites per query (one query can stack windows).
    val allowed = Map(
      "q_autocorr" -> 1, "q_benford" -> 1, "q_changepoint" -> 3,
      "q_dim_geo" -> 1, "q_dim_status" -> 1, "q_fact_build" -> 1,
      "q_ks_drift" -> 2, "q_mix_budget" -> 1, "q_moving_avg" -> 1,
      "q_pareto" -> 1, "q_seasonality" -> 1, "q_vocab_growth" -> 1,
      "q_zipf_fit" -> 1,
      // r17: UniMax water-filling — every window (rank/prefix/global
      // sums) rides the per-LANGUAGE aggregate, bounded by the lang
      // inventory; the 10x sweep below confirms corpus-independence
      "q_unimax_mix" -> 6)
    val census = small.groupBy(_._1).view.mapValues(_.size).toMap
    val newSites = census.filter { case (n, c) => c > allowed.getOrElse(n, 0) }
    val goneSites = allowed.filter { case (n, c) => census.getOrElse(n, 0) < c }
    assert(newSites.isEmpty && goneSites.isEmpty,
      s"unpartitioned-window census changed — review by name:\n" +
        s"  new/grown sites: ${newSites.toSeq.sorted.mkString(", ")}\n" +
        s"  vanished sites:  ${goneSites.toSeq.sorted.mkString(", ")}")
    // scale independence: the same sites at 10× the corpus stay capped
    // (fixture derived from the shared SparkSpec config, ADVICE r14)
    val queries10 = small.map(_._1).toSet
    val big = sweep(sf001, Some(queries10))
    val offenders10 = big.filter(_._2 > Cap)
    assert(offenders10.isEmpty,
      s"window inputs grew past $Cap at 10× corpus — not actually bounded:\n${offenders10.mkString("\n")}")
  }
}
