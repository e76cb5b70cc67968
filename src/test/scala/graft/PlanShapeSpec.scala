package graft

import graft.queries.QuerySpec

/** Plan-shape regression pins: the scale claims the query comments make
  * (map-side top-k, no window in the IVF assignment, broadcast star joins,
  * filter pushdown reaching the parquet scan) asserted against the actual
  * physical plan, so a refactor that silently reintroduces a
  * shuffle-the-corpus shape fails here instead of at 100 TB. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    try {
      val q = SparkEntry.allQueries.find(_.name == name)
        .getOrElse(fail(s"no query named $name"))
      q.fn(spark, sf).queryExecution.executedPlan.toString
    } finally QuerySpec.releaseStaged()

  test("ann re-rank reduces map-side: partial cos_top_k before the exchange") {
    val p = plan("ann_cosine_topk")
    assert(p.contains("partial_cos_top_k"),
      "top-k must aggregate partially (ObjectHashAggregate) before any shuffle")
    assert(!p.contains("Window"),
      "no window operator may rank the full scored candidate set")
  }

  test("sql_ann_topk: the parser route plans the same bounded-heap top-k") {
    val p = plan("sql_ann_topk")
    assert(p.contains("partial_cos_top_k"),
      "the SQL-registered cos_top_k must reach the same partial " +
        "ObjectHashAggregate as the Column route")
    assert(!p.contains("Window"),
      "no window operator may rank the full scored candidate set")
  }

  test("ann_pq encode/LUT are projections; ranking reduces map-side, no window") {
    val p = plan("ann_pq")
    assert(p.contains("partial_cos_top_k"),
      "ADC top-k must aggregate partially before the exchange")
    assert(!p.contains("Window"),
      "no window operator may rank the scored set or pick codes")
  }

  test("ann_ivfpq: probed-list candidates via broadcast equi-join; heap top-k") {
    val p = plan("ann_ivfpq")
    assert(p.contains("partial_cos_top_k"),
      "ADC top-k must aggregate partially before the exchange")
    assert(p.contains("BroadcastHashJoin"),
      "the per-list query LUTs must broadcast onto the encoded corpus")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"candidates must come from the c_id equi-join only; got:\n$p")
    assert(!p.contains("Window"),
      "assignment/encode must be argmin projections, not window ranks")
  }

  test("ann_ivf assignment and probing are pure projections (no window, no BNLJ)") {
    val p = plan("ann_ivf")
    assert(!p.contains("Window"), "centroid assignment must not rank through a window")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "no nested-loop/cartesian join may survive in the IVF plan")
  }

  test("dedup_semantic assigns clusters as a projection; pairs only within clusters") {
    val p = plan("dedup_semantic")
    assert(!p.contains("Window"),
      "centroid assignment must be the literal-array argmin projection, " +
        "not a per-vector window rank")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the only pair generator allowed is the within-cluster equi " +
        s"self-join on c_id; got plan:\n$p")
  }

  test("topk_orders compiles to TakeOrderedAndProject") {
    assert(plan("topk_orders").contains("TakeOrderedAndProject"))
  }

  test("sample_weighted: the global weighted top-k is a bounded TakeOrdered") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      "the A-ES selection must be orderBy().limit(), never a global sort")
  }

  test("graph_label_propagation: vote argmax is an aggregate, not a window") {
    val p = plan("graph_label_propagation")
    assert(!p.contains("Window"),
      "the per-node argmax must be min(struct(-cnt, lbl)), not a vote window")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_bleu: pair joins are equi; no cartesian over the gram sets") {
    val p = plan("text_bleu")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram matching must stay equi on (doc, n, gram); got:\n$p")
  }

  test("join_star broadcasts the dimension side") {
    assert(plan("join_star").contains("BroadcastHashJoin"))
  }

  test("q1_pricing pushes its date filter into the parquet scan") {
    val p = plan("q1_pricing")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      s"scan must carry pushed filters, got plan:\n$p")
  }

  test("bucketed_join joins co-located buckets with no exchange on the key") {
    val p = plan("bucketed_join")
    assert(p.contains("SortMergeJoin"), "bucketed fact-fact join must be SMJ")
    assert(!p.contains("hashpartitioning(o_orderkey") &&
      !p.contains("hashpartitioning(l_orderkey"),
      s"join keys must not cross an exchange — bucket layout satisfies the " +
        s"distribution requirement; got plan:\n$p")
  }

  test("join_skew_salted shuffles on the salted composite key") {
    val p = plan("join_skew_salted")
    assert("hashpartitioning\\(event_type#\\d+, salt".r.findFirstIn(p).isDefined,
      s"the join exchange must partition on (event_type, salt) — the salt " +
        s"is what fans the hot keys out; got plan:\n$p")
  }

  test("scalar_subquery is decorrelated into an aggregate + join (no per-row subplan)") {
    val p = plan("scalar_subquery")
    assert(!p.contains("Subquery"),
      s"the correlated scalar subquery must be rewritten to a join, not " +
        s"left as a subquery node; got plan:\n$p")
    assert(p.contains("avg(l_quantity"),
      "the per-part average must appear as a standalone aggregate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("join_range_binned plans as an equi join, not a nested loop") {
    val p = plan("join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the binned interval join must hash/merge on (type, bin) — a pure " +
        s"range predicate would fall back to BNLJ; got plan:\n$p")
  }

  test("exists_correlated plans as left-semi + left-anti joins") {
    val p = plan("exists_correlated")
    assert(p.contains("LeftSemi"), "EXISTS must become a left-semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must become a left-anti join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("join_skew_aqe actually splits the hot partition at runtime") {
    // AQE's final plan only exists after execution — run the query, then
    // assert the executed join is the skew-handling variant.
    val q = SparkEntry.allQueries.find(_.name == "join_skew_aqe").get
    val df = try {
      val df = q.fn(spark, "/root/testdata/sf0.01")
      df.collect()
      df
    } finally QuerySpec.releaseStaged()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"the SMJ must run with isSkewJoin — AQE found and split the skewed " +
        s"partition; got plan:\n$p")
    assert(p.contains("AQEShuffleRead skewed"),
      "the fact-side shuffle read must carry skew splits")
  }

  test("join_bloom injects a runtime bloom filter on the fact side") {
    val q = SparkEntry.allQueries.find(_.name == "join_bloom").get
    val df = try {
      val df = q.fn(spark, "/root/testdata/sf0.01")
      df.collect()
      df
    } finally QuerySpec.releaseStaged()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"the fact scan must be filtered by BloomFilterMightContain built " +
        s"from the selective dim side; got plan:\n$p")
  }

  test("join_dpp prunes fact partitions at runtime from the dim filter") {
    val p = plan("join_dpp")
    assert(p.contains("dynamicpruning"),
      s"the partitioned fact scan must carry a DynamicPruningExpression — " +
        s"without it the dim filter scans every partition; got plan:\n$p")
  }

  test("dedup_minhash candidate join is an equi hash join on the band key") {
    val p = plan("dedup_minhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "band self-join must stay an equi join")
  }

  test("sketch_quantiles broadcasts the 5-row sketch side and keeps partial aggregation") {
    val p = plan("sketch_quantiles")
    assert(p.contains("BroadcastHashJoin"),
      s"joining 5 sketch rows back onto events must broadcast, not " +
        s"shuffle the events; got plan:\n$p")
    assert(p.contains("partial_percentile_approx"),
      "the quantile sketch must reduce map-side (partial aggregation) — " +
        "that mergeability IS the 100 TB story")
  }

  test("text_heavy_hitters_lowk reduces the MG sketch map-side") {
    val p = plan("text_heavy_hitters_lowk")
    assert(p.contains("partial_freq_sketch"),
      s"the Misra-Gries aggregate must run in partial mode before the " +
        s"exchange — O(groups x k) crossing, not one row per token; got plan:\n$p")
  }

  test("ann_ivf_incremental: store scan dynamically prunes to probed lists") {
    val p = plan("ann_ivf_incremental")
    assert(p.contains("dynamicpruning"),
      s"the list-partitioned index store must be scanned with dynamic " +
        s"partition pruning from the broadcast probe side — only " +
        s"nProbe/nList of the store may be read at any corpus size; got plan:\n$p")
    assert(p.contains("partial_cos_top_k"),
      "top-5 must reduce map-side through the bounded heap")
  }

  test("sketch_kmv_overlap reduces both KMV sketches map-side, one raw scan") {
    val p = plan("sketch_kmv_overlap")
    assert(p.contains("partial_kmv_sketch"),
      s"the KMV aggregate must run in partial mode before the exchange — " +
        s"O(k) longs per partial crossing, not one row per document; got plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row sketch side must broadcast onto the exact side; got plan:\n$p")
  }

  test("sql_kmv_overlap: the parser route reaches the same partial KMV aggregate") {
    val p = plan("sql_kmv_overlap")
    assert(p.contains("partial_kmv_sketch"),
      s"kmv_sketch resolved by name from SQL text must plan the same " +
        s"map-side partial ObjectHashAggregate as the Column route; got plan:\n$p")
  }

  test("text_repetition is a pure projection — zero exchanges at any scale") {
    val p = plan("text_repetition")
    assert(!p.contains("Exchange"),
      s"the repetition gate is per-row (size/array_distinct over the " +
        s"shingle array) and must compile to scan+project with no " +
        s"shuffle; got plan:\n$p")
    assert(!p.contains("Sort"), "no sort may sneak into the projection")
  }

  test("text_contamination joins stay equi; benchmark hit join is left-semi") {
    val p = plan("text_contamination")
    assert(p.contains("LeftSemi"),
      s"corpus-gram vs benchmark-gram matching must be a semi join on the " +
        s"hash (at 100 TB the few-MB benchmark set broadcasts); got plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "no nested-loop/cartesian join may survive in the decontamination plan")
  }

  test("dedup_exact_substr generates no pairs: window filter + linear shuffles only") {
    // r22 re-pin: duplicate-gram detection is a count().over(partitionBy(h))
    // window filter on the position index's one linear exchange — no join
    // of ANY kind may exist (the r21 shape semi-joined a duplicated-gram
    // set back, which at worst is corpus-linear and was broadcast — a
    // scale hazard the window shape removes). The whole point of
    // ExactSubstr is that no pair relation ever exists.
    val p = plan("dedup_exact_substr")
    assert(!p.contains("Join"),
      s"no join may appear in the span plan — duplicate grams are found " +
        s"by a window count on the index's own h exchange; got plan:\n$p")
    val wins = "Window".r.findAllIn(p).size
    assert(wins >= 3,
      s"expected the h-partitioned dup-count window plus the two " +
        s"doc-partitioned interval-merge windows; got $wins in plan:\n$p")
  }

  test("text_lm_score joins stay linear: only the 1-row vocab crosses as BNLJ") {
    val p = plan("text_lm_score")
    assert(!p.contains("CartesianProduct"),
      "no cartesian product may appear in the LM scoring plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1,
      s"only the single-row vocab-size broadcast may be a nested-loop " +
        s"join; found $bnlj in plan:\n$p")
  }

  test("text_bm25 joins broadcast; only the 1-row stats rows cross as BNLJ") {
    val p = plan("text_bm25")
    assert(!p.contains("CartesianProduct"),
      "no cartesian product may appear in the BM25 plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2,
      s"only the single-row N/avgdl stats broadcasts (idf build + scoring) " +
        s"may be nested-loop joins; found $bnlj in plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the query set / idf / posting joins must broadcast onto the " +
        s"matched set, not sort-merge the corpus; got plan:\n$p")
  }

  /** AdaptiveSparkPlan.toString prints the Final Plan AND the Initial
    * Plan — operator counts over the raw string double-count every node.
    * Counting pins run on the final (executed) section only. */
  private def finalPlanOf(p: String): String = {
    val cut = p.indexOf("== Initial Plan ==")
    if (cut >= 0) p.substring(0, cut) else p
  }

  /** Every SortMergeJoin in a fusion plan must be THE rank-bounded
    * full-outer candidate join on (query_id, doc_id) — the one join
    * shape that cannot ride a broadcast hint (Spark has no full-outer
    * BroadcastHashJoin) and whose two inputs are ≤ queries·topK rows by
    * the row_number filter (measured by the fusionSideCounts gate
    * below). Anything else sort-merging — in particular a corpus-scale
    * doc_id join — fails here. */
  private def assertOnlyBoundedFullOuterSmj(name: String, p: String): Unit = {
    val smjs = """SortMergeJoin \[[^\]]*\], \[[^\]]*\], \w+"""
      .r.findAllIn(p).toList
    val bad = smjs.filterNot(s => s.endsWith("FullOuter") &&
      s.contains("query_id") && s.contains("doc_id"))
    assert(bad.isEmpty,
      s"$name: every sort-merge join must be the rank-bounded FullOuter " +
        s"fusion join on (query_id, doc_id); offending: $bad\n$p")
  }

  test("retrieval_rrf: fusion joins only rank-bounded frames; no cartesian") {
    // The fused tail is AQE-planned, so probe the EXECUTED plan (the
    // static one is isFinalPlan=false and pessimistic about tiny sides).
    val p = finalPlanOf(try {
      val q = SparkEntry.allQueries.find(_.name == "retrieval_rrf")
        .getOrElse(fail("no query named retrieval_rrf"))
      val df = q.fn(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    } finally QuerySpec.releaseStaged())
    assert(!p.contains("CartesianProduct"),
      "no cartesian product may appear anywhere in the fused plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1,
      s"only the vector side's |queries|-row non-equi query broadcast may " +
        s"be a nested-loop join (the BM25 N/avgdl stats are driver " +
        s"literals since r22) — the fusion itself joins rank-bounded " +
        s"frames on (query_id, doc_id); found $bnlj in plan:\n$p")
    // Re-pinned (r22, VERDICT r21 #1): the candidate set is ONE
    // full-outer join of the two retained top-k rankings — full-outer
    // cannot broadcast, so it plans as a SortMergeJoin whose BOTH sides
    // are ≤ queries·topK rows (the boundedness gate below measures
    // them); no other join may sort-merge.
    assertOnlyBoundedFullOuterSmj("retrieval_rrf", p)
  }

  test("retrieval_fusion_weighted: fusion joins only rank-bounded frames; " +
      "no cartesian, bounded full-outer the only sort-merge") {
    val p = finalPlanOf(try {
      val q = SparkEntry.allQueries.find(_.name == "retrieval_fusion_weighted")
        .getOrElse(fail("no query named retrieval_fusion_weighted"))
      val df = q.fn(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    } finally QuerySpec.releaseStaged())
    assert(!p.contains("CartesianProduct"),
      "no cartesian product may appear anywhere in the weighted-fusion plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1,
      s"only the vector side's |queries|-row non-equi query broadcast may " +
        s"be a nested-loop join; found $bnlj in plan:\n$p")
    assertOnlyBoundedFullOuterSmj("retrieval_fusion_weighted", p)
  }

  test("fusion candidate sides measure rank-bounded: ≤ queries·topK rows each") {
    // The boundedness argument the FullOuter SMJ pins above lean on,
    // MEASURED (r22): all four retained top-k frames (raw lex/vec and
    // their planted twins) must come in at or under |queries|·topK rows
    // — a broken rank filter that let corpus-scale rows into the fusion
    // join fails here deterministically.
    val counts = graft.queries.TextQueries.fusionSideCounts(spark, sf)
    counts.foreach { case (k, n) =>
      val bound = graft.queries.TextQueries.fusionSideBound(k)
      info(f"$k%-5s $n%4d rows (bound $bound)")
      assert(n <= bound,
        s"fusion side '$k' carries $n rows — over the queries·topK " +
          s"bound of $bound; the full-outer join is no longer rank-bounded")
    }
  }

  for (name <- Seq("retrieval_rrf_recall", "retrieval_fusion_recall",
      "retrieval_ndcg", "retrieval_alpha_ladder")) {
    test(s"$name: planted-truth eval keeps the production shape — plant " +
        "spec broadcasts, fusion joins rank-bounded, no cartesian") {
      // The round-20 planted-truth re-base perturbs the corpus through a
      // 40-row plant spec joined on doc_id before both rankers run. The
      // plant join must broadcast the spec (never shuffle the corpus
      // against a 40-row table), and the eval tail must keep the
      // production fusion contract: rank-bounded frames only. Probed at
      // the EXECUTED plan — the fused tail is AQE-planned over
      // localCheckpointed rankings (the retrieval_rrf precedent).
      val p = finalPlanOf(try {
        val q = SparkEntry.allQueries.find(_.name == name)
          .getOrElse(fail(s"no query named $name"))
        val df = q.fn(spark, sf)
        df.collect()
        df.queryExecution.executedPlan.toString
      } finally QuerySpec.releaseStaged())
      assert(!p.contains("CartesianProduct"),
        s"no cartesian product may appear anywhere in the $name plan")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= 2,
        s"only the bounded literal broadcasts — the |queries|-row " +
          s"non-equi vector query probe and (ladder only) the 5-row " +
          s"weight-grid cross — may be nested-loop joins; the plant spec " +
          s"and truth join on (query_id, doc_id) equi keys; found $bnlj " +
          s"in plan:\n$p")
      // Per-query summary frames (count aggregates keyed on query_id
      // alone, |queries| rows each) may legitimately pair up sort-merge —
      // both sides are bounded by the query count, not the corpus. A
      // join carrying doc_id may sort-merge ONLY as the rank-bounded
      // FullOuter fusion candidate join (re-pinned r22, VERDICT r21 #1:
      // full-outer cannot broadcast, and both its inputs are
      // ≤ queries·topK rows by the row_number filter — measured by the
      // fusionSideCounts gate). Any OTHER doc_id sort-merge would mean
      // corpus-scale identity crossing a shuffle join.
      val docSmj = """SortMergeJoin \[[^\]]*\], \[[^\]]*\], \w+"""
        .r.findAllIn(p).filter(_.contains("doc_id"))
        .filterNot(_.endsWith("FullOuter")).toList
      assert(docSmj.isEmpty,
        s"a non-full-outer sort-merge join in $name carries doc_id — " +
          s"corpus-scale identity must only cross broadcast equi joins " +
          s"or the bounded FullOuter fusion join: $docSmj\n$p")
    }
  }

  test("rag_chunk_retrieve: probe fan-out is the literal-map explode over " +
      "one lazy corpus pass; no join, no cartesian, no sort-merge") {
    // Re-pinned (r22, VERDICT r21 #1): r21 replaced the broadcast probe
    // join with `explode(element_at(<literal c_id → probes map>, c_id))`
    // — the probe side is bounded model state INLINED as a literal, so
    // no join exists at all (strictly stronger than the old broadcast
    // pin: zero build, zero hash relation, argmin evaluated once per row
    // inside the generator). Linearity of the fan-out is pinned
    // separately by ScaleRehearsalSpec's deterministic ragCandidateCount
    // gate (≤ 25× on the 10× corpus).
    val p = try {
      val q = SparkEntry.allQueries.find(_.name == "rag_chunk_retrieve")
        .getOrElse(fail("no query named rag_chunk_retrieve"))
      val df = q.fn(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    } finally QuerySpec.releaseStaged()
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product may appear in the retrieval plan; got:\n$p")
    assert("Generate explode\\(element_at\\(".r.findFirstIn(p).isDefined,
      s"the probe fan-out must be the generator over the literal " +
        s"c_id → probes map lookup; got plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
        && !p.contains("BroadcastHashJoin"),
      s"the candidate set needs NO join at any corpus size — the probe " +
        s"side is |queries|·CciProbe literal rows; got plan:\n$p")
  }

  test("rag_chunk_incremental: the store answers like the computation and " +
      "its scan prunes to the probed list partitions") {
    val (p, prunedOk) = try {
      val q = SparkEntry.allQueries.find(_.name == "rag_chunk_incremental")
        .getOrElse(fail("no query named rag_chunk_incremental"))
      val df = q.fn(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // The store is partitioned by c_id and the probe frame bounds the
      // lists: the parquet scan must carry a PartitionFilters entry on
      // c_id (static in-set from the broadcast literals, or DPP) — a
      // scan reading all CciLists partitions for a CciProbe-list probe
      // is the bug this pin exists to catch.
      val scans = "PartitionFilters: \\[[^\\]]*c_id[^\\]]*\\]".r
        .findAllIn(plan).toList
      (plan, scans.exists(s => !s.contains("PartitionFilters: []")))
    } finally QuerySpec.releaseStaged()
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      s"the probe side must broadcast onto the store scan; got plan:\n$p")
    assert(prunedOk,
      s"the store scan must prune on the c_id partition column; got plan:\n$p")
  }

  test("stream_chunk_ingest: the streamed store answers through the same " +
      "pruned scan as the incremental one") {
    // The foreachBatch appends land c_id-partitioned exactly like
    // rag_chunk_incremental's writes, so the retrieval over the drained
    // store must keep the same contract: probe side broadcast, store
    // scan pruned to the probed list partitions. A refactor that loses
    // partitionBy on the streaming append silently degrades every read
    // to a full-store scan — this pin catches it at the plan.
    val (p, prunedOk) = try {
      val q = SparkEntry.allQueries.find(_.name == "stream_chunk_ingest")
        .getOrElse(fail("no query named stream_chunk_ingest"))
      val df = q.fn(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val scans = "PartitionFilters: \\[[^\\]]*c_id[^\\]]*\\]".r
        .findAllIn(plan).toList
      (plan, scans.exists(s => !s.contains("PartitionFilters: []")))
    } finally QuerySpec.releaseStaged()
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      s"the probe side must broadcast onto the store scan; got plan:\n$p")
    assert(prunedOk,
      s"the store scan must prune on the c_id partition column; got plan:\n$p")
  }

  test("corpus_chunk_index: IVF assignment is a projection — no join, no window") {
    val p = plan("corpus_chunk_index")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the centroid set is inlined literal model state: assignment must " +
        s"be an argmin projection over the chunk-vector frame, never a " +
        s"join against a centroid relation; got plan:\n$p")
    assert(!p.contains("Window"),
      "no window operator may pick the nearest list (argmin is " +
        "array_position over the literal distance array)")
  }

  test("corpus_mixture broadcasts the threshold table onto the corpus") {
    val p = plan("corpus_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row per-language threshold table must broadcast back onto " +
        s"the corpus projection; got plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-side shuffle join may decide the mixture — the decision " +
        "pass is a map-side broadcast join at any scale")
  }

  test("scd2_upsert broadcasts the batch first-change frame; date splits push to scan") {
    val p = plan("scd2_upsert")
    assert(p.contains("BroadcastHashJoin"),
      "the store-vs-firstB merge join must broadcast the touched-key frame")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LessThan(o_orderdate") || p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"the split-date predicate must reach the orders scan; got plan:\n$p")
  }

  test("lateral_topn decorrelates to a group-limit window, not a per-nation rescan") {
    val p = plan("lateral_topn")
    assert(p.contains("WindowGroupLimit"),
      s"the LATERAL ORDER BY/LIMIT must become a WindowGroupLimit " +
        s"(map-side top-k before the exchange); got plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("recursive_cte executes as a native UnionLoop") {
    assert(plan("recursive_cte").contains("UnionLoop"))
  }

  test("join_multiway_q5: dims broadcast, date filter pushed, no cartesian") {
    val p = plan("join_multiway_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"region/nation/supplier (at least) must broadcast; got:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the s_nationkey = c_nationkey correlation must bind as an equi key")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") ||
      p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"the date range must reach the orders scan; got:\n$p")
  }

  test("join_not_in_null: poisoned branch plans as a null-aware anti join") {
    // The declared query wraps both branches in scalar subqueries, whose
    // plans don't print in the top-level executedPlan string — pin the
    // poisoned branch directly.
    Tables.customer(spark, sf).createOrReplaceTempView("naaj_customer")
    Tables.orders(spark, sf).createOrReplaceTempView("naaj_orders")
    val p = spark.sql(
      """SELECT count(*) FROM naaj_customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
        |          ELSE o_custkey END FROM naaj_orders)""".stripMargin)
      .queryExecution.executedPlan.toString
    // BroadcastHashJoinExec.toString prints the isNullAwareAntiJoin flag
    // as a bare trailing `true` after the build side.
    assert("LeftAnti, Build(Right|Left), true".r.findFirstIn(p).isDefined,
      s"NOT IN over a nullable subquery must keep three-valued-logic " +
        s"semantics via the single-column NAAJ, got:\n$p")
  }

  test("ml_knn_classify scores through the bounded map-side top-k heap") {
    val p = plan("ml_knn_classify")
    assert(p.contains("partial_cos_top_k"),
      "the neighbor search must reduce map-side like ann_cosine_topk")
  }

  test("agg_multi_distinct: two-phase dedup aggregates, never an Expand") {
    val p = plan("agg_multi_distinct")
    assert(!p.contains("Expand"),
      "multi-distinct must run as separate pre-dedup aggregates — the " +
        "built-in count(DISTINCT a), count(DISTINCT b) plan replicates " +
        s"every corpus row once per distinct group via Expand; got:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the per-slice distinct frames must broadcast back onto the totals")
  }

  test("percentile_groups: rank + size share one shuffle on the group key") {
    val p = plan("percentile_groups")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"row_number, the partition count, and the final aggregate must all " +
        s"ride ONE hash partitioning on slice; got $exchanges exchanges:\n$p")
  }

  test("ohlc_resample: both edge picks ride the bar-key partitioning") {
    val p = plan("ohlc_resample")
    val exchanges = "Exchange ".r.findAllIn(p).length
    // one corpus shuffle on (slice, bucket) for the two window sorts; the
    // final aggregate may re-key on (slice, bar_ts) but only bar rows —
    // never corpus rows — cross it.
    assert(exchanges <= 2, s"expected ≤2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("agg_mode and stats_chi2 reduce the corpus map-side in their first aggregate") {
    Seq("agg_mode", "stats_chi2").foreach { name =>
      val p = plan(name)
      assert(p.contains("partial_count"),
        s"$name's first aggregate must map-side combine so only distinct " +
          s"cells — not corpus rows — cross the shuffle; got:\n$p")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("ml_embedding_int8 is a pure projection — zero exchanges") {
    val p = plan("ml_embedding_int8")
    assert(!p.contains("Exchange "),
      s"int8 quantization must not shuffle at any scale; got:\n$p")
  }

  test("graph_link_pred joins equi only; global top-20 is a bounded TakeOrdered") {
    // The kNN edge list is staged (lineage truncated to an ExistingRDD
    // scan), so its partial_cos_top_k subtree doesn't print here — the
    // map-side top-k shape is pinned by the ml_knn_classify test over
    // the same scoredBrute/topK machinery.
    val p = plan("graph_link_pred")
    assert(!p.contains("CartesianProduct"),
      s"wedge/holdout joins must stay equi; got:\n$p")
    // The top-20 must be per-partition heaps (TakeOrderedAndProject),
    // never a single-partition Window over EVERY scored candidate pair;
    // the only Window left re-ranks the already-bounded 20 rows above
    // the TakeOrdered in the plan.
    assert(p.contains("TakeOrderedAndProject"),
      s"the global top-20 must be a bounded TakeOrdered; got:\n$p")
    val winAt = p.indexOf("Window")
    val takeAt = p.indexOf("TakeOrderedAndProject")
    assert(winAt < 0 || winAt < takeAt,
      "any Window must sit ABOVE the TakeOrdered (bounded 20-row rerank," +
        s" not a global funnel); got:\n$p")
  }

  test("ml_gbdt_stump histograms reduce map-side; no cartesian") {
    val p = plan("ml_gbdt_stump")
    assert(p.contains("partial_count"),
      "feature histograms must map-side combine — corpus rows must " +
        "never cross a shuffle ungrouped")
    assert(!p.contains("CartesianProduct"),
      "model frames must come back as broadcasts")
  }

  test("corpus_dsir: ratio table broadcasts onto the token stream; top-k is TakeOrdered") {
    val p = plan("corpus_dsir")
    assert(p.contains("BroadcastHashJoin"),
      "the DsirB-row log-ratio table must broadcast — the corpus token " +
        "stream must never shuffle for the weight lookup")
    assert(p.contains("TakeOrderedAndProject"),
      "the declared top-k must be a bounded TakeOrdered, not a global sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus-side SMJ/cartesian may appear; got:\n$p")
  }

  test("er_fuzzy_match: sorted-neighborhood pairs are join-free (one window pass)") {
    val p = plan("er_fuzzy_match")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      "SNM pair generation must be lead() over the block window — any " +
        s"join reintroduces the quadratic all-pairs shape; got:\n$p")
    assert(p.contains("Window"),
      "the ErWindow lead() neighbors must come from a window operator")
  }

  test("text_nb_classifier: the model broadcasts; no corpus-side SMJ") {
    val p = plan("text_nb_classifier")
    assert(p.contains("BroadcastHashJoin"),
      "the NbB-cell model must broadcast onto the scoring token stream")
    assert(!p.contains("CartesianProduct"),
      s"model/prior frames must come back as literals or broadcasts; got:\n$p")
  }

  test("ann_mmr_rerank: retrieval is one TakeOrdered corpus pass") {
    // The greedy selection runs on the driver over the bounded C-row
    // window; the plan here is only the retrieval stage.
    val p = plan("ann_mmr_rerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"),
      s"candidate retrieval must not shuffle or pair the corpus; got:\n$p")
  }

  test("ml_tree_depth2: level histograms reduce map-side; model frames broadcast") {
    val p = plan("ml_tree_depth2")
    assert(p.contains("partial_count"),
      "the (node, cell) level histogram must map-side combine — corpus " +
        "rows must never cross a shuffle ungrouped")
    assert(!p.contains("CartesianProduct"),
      "split/model frames must come back as broadcasts")
  }

  // --- SQL-parser route ≡ Column route (round-10 verdict #1): each
  // sql_* restatement must land in the SAME physical plan family as its
  // DSL twin — a parser-route divergence would ship a second, slower
  // engine to exactly the users most likely to hit it.
  private def shuffleCount(p: String): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(p).size

  /** Full formatted plan — executedPlan.toString elides wide aggregate
    * function lists ("... 161 more fields"), which hides the KPI
    * aggregate's tail functions from substring pins. */
  private def planFormatted(name: String): String =
    try {
      val q = SparkEntry.allQueries.find(_.name == name)
        .getOrElse(fail(s"no query named $name"))
      q.fn(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    } finally QuerySpec.releaseStaged()

  test("sql_kpi_full_day: parser route plans the same 38-KPI aggregate as the DSL") {
    val sqlP = plan("sql_kpi_full_day")
    val dslP = plan("kpi_full_day")
    assert(shuffleCount(sqlP) == shuffleCount(dslP),
      s"parser route shuffles ${shuffleCount(sqlP)}x vs DSL ${shuffleCount(dslP)}x")
    assert(planFormatted("sql_kpi_full_day").contains("ShannonEntropy") &&
      planFormatted("kpi_full_day").contains("ShannonEntropy"),
      "both routes must aggregate entropy through the typed ShannonEntropy " +
        "aggregator (the registered-UDAF path)")
    Seq(sqlP, dslP).foreach(p => assert(
      "Window".r.findAllIn(p).size == 1,
      "exactly one window pass (the per-flow lag IAT) feeds the KPI aggregate"))
  }

  test("exact distinct counts plan no Expand: KPI table (both routes) and featureSeries") {
    Seq("kpi_full_day", "sql_kpi_full_day", "ml_split_scale").foreach { name =>
      val p = planFormatted(name)
      assert(p.contains("exact_count_distinct"),
        s"$name must count distinct values through exact_count_distinct; got:\n$p")
      assert(!p.contains("Expand"),
        s"$name must not copy its input rows through an Expand; got:\n$p")
    }
  }

  test("sql_flow_iat: parser route plans the one-shuffle lag window") {
    val sqlP = plan("sql_flow_iat")
    val dslP = plan("flow_iat")
    assert(shuffleCount(sqlP) == 1 && shuffleCount(dslP) == 1,
      "the W1 lag IAT must cost exactly one shuffle on (slice, flow) " +
        s"in both routes; sql=${shuffleCount(sqlP)} dsl=${shuffleCount(dslP)}")
    assert(sqlP.contains("Window") && dslP.contains("Window"))
  }

  test("sql_dedup_ngram: shingle_explode by name reaches the native generator") {
    val p = plan("sql_dedup_ngram")
    assert(p.contains("shingle_explode"),
      "the LATERAL VIEW must resolve to the native ShingleExplode " +
        s"generator, not an interpreted HOF chain; got:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair candidates must come from the equi self-join on h only")
  }

  test("sql_heavy_hitters: freq_sketch by name reduces map-side") {
    val sqlP = plan("sql_heavy_hitters")
    val dslP = plan("text_heavy_hitters")
    assert(sqlP.contains("partial_freq_sketch") && dslP.contains("partial_freq_sketch"),
      "the MG sketch must aggregate partially (ObjectHashAggregate) " +
        "before the lang exchange in both routes")
    assert(shuffleCount(sqlP) == shuffleCount(dslP))
  }

  test("sql_join_multiway_q5: parser route keeps the broadcast-dims Q5 shape") {
    val sqlP = plan("sql_join_multiway_q5")
    val dslP = plan("join_multiway_q5")
    assert(shuffleCount(sqlP) == shuffleCount(dslP),
      s"parser route shuffles ${shuffleCount(sqlP)}x vs DSL ${shuffleCount(dslP)}x")
    Seq("sql" -> sqlP, "dsl" -> dslP).foreach { case (r, p) =>
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
        s"$r route must broadcast the dim tables (region/nation/supplier/" +
          "customer side), leaving at most the fact join to shuffle")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1,
        s"$r route may shuffle at most the one lineitem-orders fact join")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$r route must keep every join an equi join")
    }
  }

  test("sql_grouping_sets: parser route plans the same one-Expand aggregate") {
    val sqlP = plan("sql_grouping_sets")
    val dslP = plan("agg_grouping_sets")
    Seq("sql" -> sqlP, "dsl" -> dslP).foreach { case (r, p) =>
      assert("Expand".r.findAllIn(p).size == 1,
        s"$r route must plan exactly one Expand for the three grouping sets")
      assert(p.contains("partial_count"),
        s"$r route must partial-aggregate below the grouping-key exchange")
    }
    assert(shuffleCount(sqlP) == shuffleCount(dslP))
  }

  test("sql_percentile_groups: parser route plans the one-shuffle window pair") {
    val sqlP = plan("sql_percentile_groups")
    val dslP = plan("percentile_groups")
    assert(shuffleCount(sqlP) == 1 && shuffleCount(dslP) == 1,
      "exact rank-selection percentiles must cost exactly ONE shuffle on " +
        s"the group key; sql=${shuffleCount(sqlP)} dsl=${shuffleCount(dslP)}")
    Seq(sqlP, dslP).foreach(p => assert(p.contains("Window")))
  }

  test("sql_set_ops: parser route plans the same set-op aggregates") {
    val sqlP = plan("sql_set_ops")
    val dslP = plan("set_ops")
    assert(shuffleCount(sqlP) == shuffleCount(dslP),
      s"parser route shuffles ${shuffleCount(sqlP)}x vs DSL ${shuffleCount(dslP)}x")
    Seq(sqlP, dslP).foreach(p =>
      assert(!p.contains("CartesianProduct"),
        "set ops must stay hash-based (aggregate / hash join), never a product"))
  }

  test("sql_window_rank_family: parser route plans one shuffle for both window specs") {
    val sqlP = plan("sql_window_rank_family")
    val dslP = plan("window_rank_family")
    assert(shuffleCount(sqlP) == 1 && shuffleCount(dslP) == 1,
      "both named WINDOW specs share the partition key — exactly ONE " +
        s"exchange; sql=${shuffleCount(sqlP)} dsl=${shuffleCount(dslP)}")
    Seq(sqlP, dslP).foreach(p =>
      assert("Window".r.findAllIn(p).size >= 1 && p.contains("Window")))
  }

  test("sql_topk_orders: parser route keeps the TakeOrdered heap, no full sort") {
    Seq("sql_topk_orders", "topk_orders").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q must plan per-partition heaps (TakeOrderedAndProject); got:\n$p")
      assert(shuffleCount(p) == 0,
        s"$q must not exchange — the heap reduces on the driver")
    }
  }

  test("sql_join_asof_nearest: parser route plans the one-shuffle tagged union") {
    val sqlP = plan("sql_join_asof_nearest")
    val dslP = plan("join_asof_nearest")
    assert(shuffleCount(sqlP) == 2 && shuffleCount(dslP) == 2,
      "exactly TWO exchanges in both routes — the clicks (user_id, ts) " +
        "dedup aggregate and the shared window partitioning; both " +
        "direction frames must ride the SAME window exchange; " +
        s"sql=${shuffleCount(sqlP)} dsl=${shuffleCount(dslP)}")
    Seq(sqlP, dslP).foreach { p =>
      assert(p.contains("Window"))
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        "the as-of must ride the union+window carry, never a range join")
    }
  }

  test("sql_funnel_conversion: parser route keeps every funnel hop an equi join") {
    val p = plan("sql_funnel_conversion")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "every funnel step joins on user_id — a nested-loop means the " +
        "strictly-after predicate leaked out of the join filter")
    assert("Join".r.findAllIn(p).size >= 3,
      "the 4-step funnel needs at least the three step joins")
  }

  test("sql_scalar_predicates: both routes partial-aggregate the arrays map-side") {
    val sqlP = plan("sql_scalar_predicates")
    val dslP = plan("scalar_predicates")
    Seq("sql" -> sqlP, "dsl" -> dslP).foreach { case (r, p) =>
      assert(p.contains("partial_collect_list"),
        s"$r route must build the per-order arrays with a map-side " +
          "partial, never shipping raw lineitem rows to one reducer")
      assert(!p.contains("CartesianProduct"))
    }
    assert(shuffleCount(sqlP) == shuffleCount(dslP),
      s"sql=${shuffleCount(sqlP)} dsl=${shuffleCount(dslP)}")
  }

  test("dq_profile_approx: the HLL branch profiles without an Expand") {
    // The profiler's scale path: the approx_count_distinct aggregate must
    // stay an ordinary (sketch-register) aggregate. The declared query
    // stages the 1-row stats frame (localCheckpoint truncates lineage to
    // an ExistingRDD scan), so the pin inspects the PRE-stage frame — the
    // plan the checkpoint actually executes. Exactly ONE Expand is
    // allowed — the exact multi-distinct branch that measures the sketch
    // error; a second would mean the approx branch regressed into
    // per-distinct-value row duplication, the cost this query exists to
    // avoid at 100 TB.
    val staged = graft.queries.WarehouseQueries
      .dqProfileApproxStage(spark, sf)
    val p = staged.queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(p).size == 1,
      s"expected exactly one Expand (the exact error-measuring branch); got:\n$p")
    assert(p.contains("approx_count_distinct"),
      "the scale branch must aggregate through HLL++ sketch registers")
    // the pairing of the two 1-row aggregates must be a broadcast, and
    // the declared query's own plan must show the lineage truncation —
    // the six per-column rows re-read the checkpoint, not the table
    assert(p.contains("BroadcastNestedLoopJoin"), "1-row pairing broadcasts")
    val declared = plan("dq_profile_approx")
    assert(declared.contains("ExistingRDD"),
      "declared plan must read the staged 1-row stats, not rescan orders")
  }

  test("shuffle-volume ceilings hold for the heaviest queries") {
    // Wall time only tells you a regression happened on THIS machine;
    // bytes crossing the exchanges tell you the plan itself regressed — a
    // change that doubles a shuffle fails here even when the VM absorbs it
    // (round-5 verdict #5). Ceilings are ~2× the measured steady-state
    // shuffle WRITE bytes at sf0.01 (second run — layouts/keeper stores
    // warm), loose enough for partition-count jitter, tight enough that a
    // reintroduced corpus-wide shuffle (the failure mode these plans
    // dodged by df-capping/banding) blows straight through.
    // Measured (round 8, after the shared nearDupPairsShared layout):
    // components 3.4k, star 6.5k, clean 21k — the pair-graph build's
    // ~650k no longer recurs per invocation, and these three ceilings are
    // deliberately tight so a regression that re-derives the pair graph
    // inside a consumer blows through them. incremental 449k, minhash
    // 576k, stopshingle 642k still measure their full declared builds.
    val ceilings = Map(
      "dedup_components" -> 10000L,
      "dedup_components_star" -> 20000L,
      "corpus_clean" -> 60000L,
      "corpus_clean_incremental" -> 900000L,
      "dedup_minhash" -> 1200000L,
      "dedup_stopshingle" -> 1300000L,
      // ml_pca_power's ceiling is the load-bearing one: the mapPartitions
      // Gram ships only 4 096-cell partials, so a refactor to the
      // declarative posexplode² form (corpus × 4 096 rows into the
      // shuffle) blows straight through. graph_bfs pins the
      // frontier-expansion volume; ml_feature_hash pins that the token
      // explosion map-side-combines to ≤ FhDim cells per doc.
      "ml_pca_power" -> 100000L,
      "graph_bfs" -> 900000L,
      "ml_feature_hash" -> 10000L,
      // round-8 additions (measured at sf0.01, ~2× headroom): the
      // bootstrap's ×32 explosion must keep map-side-combining to 32
      // cells; winnowing/ACF/gbdt move only per-doc / histogram frames;
      // link_pred's wedge join is bounded by the kNN edge list.
      // (measured: bootstrap 649 — the ×32 explosion combines to 32
      // cells; winnowing 3.8k, gbdt 3.5k, acf 196k, link_pred 104k)
      "ml_bootstrap_ci" -> 2000L,
      "ts_acf" -> 500000L,
      "text_winnowing" -> 50000L,
      "ml_gbdt_stump" -> 10000L,
      "graph_link_pred" -> 250000L,
      // round-9 additions: DSIR/NB shuffle only bounded bucket-count
      // cells + per-doc weight rows (never raw tokens); MMR shuffles
      // nothing but the TakeOrdered partials of the C-row window.
      "corpus_dsir" -> 60000L,
      "text_nb_classifier" -> 60000L,
      "ann_mmr_rerank" -> 30000L,
      // keyterms moves only (doc, term) tf rows + the window re-read;
      // reservoir moves one (lang, doc_id, h) row per doc.
      "text_keyterms" -> 600000L,
      "sample_reservoir" -> 60000L,
      // the depth-2 grower ships only histogram cells (≤ 24 + 2·16)
      // and 1-2-row model frames per level
      "ml_tree_depth2" -> 20000L,
      // round-10: IVFPQ moves only the bounded top-k heap partials and
      // the staged-corpus checkpoint read — encode and LUTs are
      // projections, candidates ride the broadcast c_id join
      "ann_ivfpq" -> 30000L,
      // round-11: the profiler pair. dq_profile's Expand is its declared
      // cost — the ceiling pins that cost (≈ Σ per-column distinct cells,
      // measured 1.1 MB at sf0.01) so an accidental second Expand or a
      // lost map-side combine blows through; the approx twin must move
      // only sketch registers + the same exact branch.
      "dq_profile" -> 2500000L,
      "dq_profile_approx" -> 2500000L,
      // round-20 additions: the retrieval/RAG read path. The chunk index
      // ships (chunk, FhDim-combined cells) feature rows once; retrieval
      // and packing move only rank-bounded frames on top of the staged
      // index; BM25 ships query-vocab-filtered postings, never the
      // corpus token stream; exact-substr ships the position-tagged
      // suffix keys linearly (its declared cost — a pair-generating
      // regression multiplies it).
      // (measured steady-state at sf0.01: chunk_index 237k,
      // chunk_retrieve 239k, context_pack 256k, rrf 72k, bm25 69k,
      // exact_substr 267k — ~2× headroom)
      "corpus_chunk_index" -> 500000L,
      "rag_chunk_retrieve" -> 500000L,
      "rag_context_pack" -> 520000L,
      "retrieval_rrf" -> 150000L,
      "text_bm25" -> 140000L,
      "dedup_exact_substr" -> 550000L,
      // round-20 sweep over the remaining heavy shuffles (batch,
      // deterministic): pagerank pins the per-iteration edge-message
      // volume ×5 rounds; gru_infer ships per-window sequence tensors
      // once; unigram_apply moves the lattice frames its hard-EM
      // declares; simhash/contamination/bleu are banded or equi-bounded
      // gram joins; attribution/kpi_session ride one event shuffle;
      // survival_km moves (cohort, t) cells; cdc/compact ship the
      // changed-file row sets, not the table.
      // (measured steady-state at sf0.01: pagerank 1.18M, gru_infer
      // 1.27M, unigram_apply 434k, simhash 113k, contamination 272k,
      // bleu 141k, attribution 210k, kpi_session 186k, survival_km
      // 158k, cdc 334k, compact 340k, scd2 160k, bloom 192k —
      // ~2× headroom)
      "graph_pagerank" -> 2500000L,
      "ml_gru_infer" -> 2600000L,
      "text_unigram_apply" -> 900000L,
      "dedup_simhash" -> 250000L,
      "text_contamination" -> 550000L,
      "text_bleu" -> 300000L,
      "event_attribution" -> 450000L,
      "kpi_session" -> 400000L,
      "ml_survival_km" -> 350000L,
      "snapshot_cdc" -> 700000L,
      "files_compact" -> 700000L,
      "scd2_upsert" -> 350000L,
      "join_bloom" -> 400000L)
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    try {
      ceilings.toSeq.sortBy(_._1).foreach { case (name, cap) =>
        val q = SparkEntry.allQueries.find(_.name == name)
          .getOrElse(fail(s"no query named $name"))
        def run(): Unit =
          try q.fn(spark, "/root/testdata/sf0.01").count(): Unit
          finally QuerySpec.releaseStaged()
        run() // warm: builds JVM-scoped layouts/stores off the books
        val before = meter.stable()
        run()
        val delta = meter.stable() - before
        info(f"$name%-26s write=${delta.write}%10d read=${delta.read}%10d spill=${delta.spill}%d")
        assert(delta.write <= cap,
          s"$name shuffled ${delta.write} bytes — over the ${cap} ceiling; " +
            "the plan moved materially more data than its design point")
        assert(delta.spill == 0L, s"$name spilled ${delta.spill} bytes at sf0.01")
      }
    } finally spark.sparkContext.removeSparkListener(meter)
  }
}
