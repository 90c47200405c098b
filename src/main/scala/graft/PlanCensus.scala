package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan census: the AQE-final shuffle/broadcast counts and
  * anti-pattern flags for one query. PlanCensusSpec asserts it against a
  * committed golden file, so an edit that adds an Exchange or flips a join
  * strategy fails a TEST instead of surfacing as a bench regression two
  * rounds later.
  */
object PlanCensus {

  /** Per-query plan census. `shuffles` counts shuffle `Exchange` nodes
    * (BroadcastExchange is counted separately), both from the final
    * (post-AQE) plan section only — the initial plan legitimately differs
    * once AQE re-plans joins at runtime. */
  case class Census(shuffles: Int, broadcasts: Int, flags: Seq[String]) {
    def line(name: String): String = s"$name $shuffles $broadcasts" +
      (if (flags.isEmpty) "" else flags.mkString(" [", ",", "]"))
  }

  /** Execute the query (noop sink — AQE only finalizes the plan after a
    * run) and census its executed physical plan. */
  def of(df: DataFrame): Census = {
    df.write.mode("overwrite").format("noop").save()
    // counts and flags come from WALKING the executed (AQE-final) plan —
    // a node AQE replaced at runtime must not be flagged as present, and
    // a regex over the explain text breaks when a cached subtree nests
    // its own "== Initial Plan ==" marker mid-tree
    val c = org.apache.spark.sql.graft.PlanWalk.countsOf(
      df.queryExecution.executedPlan)
    val flags = Seq(
      "CartesianProduct" -> c.cartesian,
      "BroadcastNestedLoopJoin" -> c.bnlj,
      // projection pruning failed: a scan reads (nearly) every column
      "full-width-scan" -> c.fullWidthScan,
      // driver-materialized data parallelized back out, or a legit
      // localCheckpoint lineage cut — review which on every new hit
      "ExistingRDD" -> c.existingRdd,
      // a Window with an EMPTY partition spec runs on ONE partition —
      // either authored as orderBy-only or constant-folded from
      // partitionBy(lit(1)); exempt only bounded-by-construction inputs
      "single-partition-window" -> c.singlePartWindow,
    ).collect { case (f, true) => f }
    Census(c.shuffles, c.broadcasts, flags)
  }

  /** Queries ALLOWED to carry an anti-pattern flag, each with its
    * justification — the explicit exemption list. PlanCensusSpec fails on
    * any flagged query not listed here (so a new cartesian/BNLJ can't slip
    * in via a blind golden regeneration) and on any stale exemption. */
  val exemptFlags: Map[String, Map[String, String]] = Map(
    "ann_brute_topk" -> Map("BroadcastNestedLoopJoin" ->
      "brute force BY DESIGN: broadcast side is NumQueries rows; every corpus vector scores against each"),
    "ann_hardneg_brute" -> Map("BroadcastNestedLoopJoin" ->
      "negated-label brute truth BY DESIGN: both join predicates are inequalities (label <> qlabel, vec_id <> query_id), so no hash key exists; broadcast side is NumQueries rows"),
    "mine_bitext_margin" -> Map("BroadcastNestedLoopJoin" ->
      "brute scoring leg BY DESIGN: broadcast side is the bounded BitextQueries batch; every target-half vector scores against each (production swaps in the IVF probe ring)"),
    "dedup_embedding_cosine" -> Map("BroadcastNestedLoopJoin" ->
      "exact all-pairs verifier, bounded-N by contract; scale paths: Similarity.semanticDedup (cell-blocked pruning) and annLshTopK candidates + rerank"),
    "curation_pipeline" -> Map("ExistingRDD" ->
      "sealed result checkpoint of the connected-components fixpoint (Graph.componentsOf, HashMin on the message-passing kernel) that labels the clusters"),
    "dedup_clusters" -> Map("ExistingRDD" ->
      "sealed result checkpoint of the connected-components fixpoint (Graph.componentsOf, HashMin on the message-passing kernel) that labels the clusters"),
    "dedup_keep_list" -> Map("ExistingRDD" ->
      "sealed result checkpoint of the connected-components fixpoint (Graph.componentsOf, HashMin on the message-passing kernel) that labels the clusters"),
    "text_tfidf_top_terms" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row N aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "text_lm_bits" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row (N,V) aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "dedup_winnow_candidates" -> Map("BroadcastNestedLoopJoin" ->
      "df-cap sizing folded into the plan: crossJoin(broadcast(single-row ndocs aggregate)); build side is exactly 1 row"),
    "dedup_ngram_jaccard" -> Map("BroadcastNestedLoopJoin" ->
      "df-cap sizing folded into the plan: crossJoin(broadcast(single-row ndocs aggregate)); build side is exactly 1 row"),
    "dedup_contamination_bloom" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row Bloom bitmap aggregate)) — the scalar-subquery shape; build side is exactly 1 row of fixed 128 KiB"),
    "train_mix_weights" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row w_total aggregate)) — the scalar-subquery shape replacing the r6-flagged single-partition window; build side is exactly 1 row"),
    "train_dsir_weights" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row (n_all,n_tgt) aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "text_ccnet_buckets" -> Map("BroadcastNestedLoopJoin" ->
      "inherits lmBits' crossJoin(broadcast(single-row (N,V) aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "text_bm25_topk" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row (n_docs,avgdl) aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "embed_drift_report" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row (t_train,t_ingest) aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "embed_cluster_terms" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row n_cells aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "dedup_sketch_recall" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(6-row threshold-sweep frame)) onto the pair frame — constant bounded build side, the scalar-subquery class"),
    "orders_rfm_segments" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row aggregates)) twice: global last-order date, then the nine quartile cuts — the scalar-subquery shape; build sides are exactly 1 row"),
    "corpus_domain_js" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row grand-total aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "layout_skipping_report" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row min/max bounds aggregate)) twice: once per-row for bucket normalization, once onto the <=3*B-row bucket-stats frame for the probe windows — the scalar-subquery shape; build side is exactly 1 row"),
    "text_kn_bigram" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row b_total aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "text_kn_score" -> Map("BroadcastNestedLoopJoin" ->
      "inherits knModelOf's crossJoin(broadcast(single-row b_total aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "retrieval_rm3_expand" -> Map("BroadcastNestedLoopJoin" ->
      "inherits bm25's crossJoin(broadcast(single-row (n_docs,avgdl) aggregate)) in both scoring passes — the scalar-subquery shape; build side is exactly 1 row"),
    "retrieval_hybrid_rrf" -> Map("BroadcastNestedLoopJoin" ->
      "inherits bm25's crossJoin(broadcast(single-row (n_docs,avgdl) aggregate)) in both the term-selection and BM25 legs — the scalar-subquery shape; build side is exactly 1 row"),
    "dedup_keep_best" -> Map("ExistingRDD" ->
      "sealed result checkpoint of the connected-components fixpoint (Graph.componentsOf, HashMin on the message-passing kernel) that labels the clusters (inherits dedup_clusters)"),
    "graph_pagerank" -> Map("ExistingRDD" ->
      "RDD fixpoint output: the damped-sum rounds run at the RDD layer on a persisted co-partitioned adjacency (one map-side-combined shuffle per round); the final frame is the sealed result checkpoint"),
    "graph_triangles" -> Map("ExistingRDD" ->
      "localCheckpoint of the distinct edge list and the oriented edge set — each feeds multiple downstream branches (degree count, adjacency gather, closure probe) and would otherwise recompute the pair-expansion join per branch"),
    "graph_triangles_approx" -> Map(
      "ExistingRDD" ->
        "inherits graph_triangles' localCheckpoints (edge list counted + coin-filtered, oriented sample reused thrice by the closure)",
      "BroadcastNestedLoopJoin" ->
        "crossJoin(broadcast(single-row edge/triangle count aggregates)) assembling the one-row estimator report — the scalar-subquery shape; build sides are exactly 1 row"),
    "graph_components" -> Map("ExistingRDD" ->
      "RDD fixpoint output: HashMin rounds at the RDD layer, in blocks run to the fixpoint — self-message carry makes each round one min shuffle with no join; sealed result checkpoint"),
    "graph_label_prop" -> Map("ExistingRDD" ->
      "RDD fixpoint output: plurality rounds at the RDD layer — (node,label) count shuffle + per-node argmax shuffle, both map-side combined; sealed result checkpoint"),
    "graph_ppr" -> Map("ExistingRDD" ->
      "RDD fixpoint output (inherits graph_pagerank's loop): seed mass recomputed from node-id arithmetic, no seed frame; sealed result checkpoint"),
    "graph_bfs_layers" -> Map("ExistingRDD" ->
      "RDD fixpoint output: min-relaxation rounds at the RDD layer with self-message carry (the componentsOf idiom), frontier-sized shuffles; sealed result checkpoint"),
    "graph_hits" -> Map("ExistingRDD" ->
      "RDD fixpoint output: half-steps at the RDD layer over persisted out-/in-adjacency, one sum shuffle each; the max-normalization constant is one tiny max action instead of a scalar-subquery crossJoin; sealed result checkpoint"),
    "graph_random_walks" -> Map("ExistingRDD" ->
      "RDD fixpoint output: the sorted adjacency array IS the ranked adjacency (index = rank); per step one frontier-sized repartition, the md5 draw replayed in-closure byte-identically; sealed result checkpoint"),
    "graph_modularity" -> Map(
      "ExistingRDD" ->
        "localCheckpoints: the converged LPA label frame (now labelPropagationOf's sealed RDD-fixpoint output, checkpointed once more for the double fan-out here) — the fan-out-reused edge list itself is persist()ed (a checkpoint of it ran out of heap at sf3), not checkpointed",
      "BroadcastNestedLoopJoin" ->
        "crossJoin(broadcast(single-row m2 edge-count aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "retrieval_eval_report" -> Map(
      "ExistingRDD" ->
        "localCheckpoint of the <=Bm25TopK-row relevance-marked ranking — reused by all three cutoff aggregates",
      "BroadcastNestedLoopJoin" ->
        "inherits bm25's crossJoin(broadcast(single-row (n_docs,avgdl) aggregate)) plus the per-cutoff crossJoin(broadcast(single-row n_relevant aggregate)) — the scalar-subquery shape; build sides are exactly 1 row"),
    "events_attribution" -> Map("ExistingRDD" ->
      "localCheckpoint of the per-purchase touch summary — feeds three model branches plus the direct-purchase anti-join"),
    "embed_matryoshka_report" -> Map(
      "ExistingRDD" ->
        "localCheckpoints: the full-width truth pairs and each per-width scored frame are materialized once and reused by the rank leg and the delta leg",
      "BroadcastNestedLoopJoin" ->
        "per-width brute scoring leg BY DESIGN (the annBruteTopK class): broadcast side is NumQueries rows with an inequality predicate; this is an offline eval report — production swaps in the IVF probe ring per width"),
    "graph_kcore" -> Map("ExistingRDD" ->
      "localCheckpoint lineage cuts: the peeled edge set is cut every second round so the fixed-round loop keeps an O(1)-deep plan"),
    "text_nb_quality" -> Map("BroadcastNestedLoopJoin" ->
      "two crossJoin(broadcast(single-row aggregate)) scalar subqueries (bucket totals, doc-count priors) — the DSIR shape; build sides are exactly 1 row"),
    "orders_basket_rules" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row n_baskets aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "corpus_dataset_card" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row mass_total aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "orders_zorder_index" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row min/max bounds aggregate)) — the scalar-subquery shape normalizing each z dimension; build side is exactly 1 row"),
    "dedup_contamination_report" -> Map("BroadcastNestedLoopJoin" ->
      "inherited from the composed dedup_contamination_bloom leg: crossJoin(broadcast(single-row Bloom bitmap aggregate)); build side is exactly 1 row"),
    "ann_recall_report" -> Map(
      "ExistingRDD" ->
        "sealed result checkpoint: the 6-row report materializes inside the operator so the shared persisted vector frame / once-trained codebooks can be released at exit; the plan the census sees is the sealed scan (each leg's own census is audited under its standalone query)"),
    "train_token_budget" -> Map("BroadcastNestedLoopJoin" ->
      "bounded |sources|^2 remainder-rank theta self-join over the per-source aggregate (~20 rows) plus two crossJoin(broadcast(single-row total)) scalar subqueries"),
    "train_epoch_plan" -> Map(
      "BroadcastNestedLoopJoin" ->
        "two crossJoin(broadcast(single-row aggregate)) scalar subqueries (budget/n_src, alloc/headroom sums) — the tokenBudget shape; build sides are exactly 1 row",
      "ExistingRDD" ->
        "localCheckpoint of the bounded |sources|-row aggregate, materialized ONCE so the scalar-subquery branches re-read it instead of re-scanning the corpus (the samplingTemperature idiom)"),
    "train_sampling_temperature" -> Map(
      "BroadcastNestedLoopJoin" ->
        "two crossJoin(broadcast(single-row aggregate)) scalar subqueries (token total, q normalizer) — the mixWeights shape; build sides are exactly 1 row",
      "ExistingRDD" ->
        "localCheckpoint of the bounded |langs|-row aggregate, materialized ONCE so the scalar-subquery branches re-read it instead of re-scanning the corpus"),
    "dedup_contamination_semantic" -> Map("BroadcastNestedLoopJoin" ->
      "eval side is FIXED-size by definition (benchmark suites don't grow with the corpus) and explicitly broadcast — the contamination broadcast class; linear in the corpus, this IS the scale path"),
    "audit_integrity" -> Map("BroadcastNestedLoopJoin" ->
      "crossJoin(broadcast(single-row modal-dimension aggregate)) — the scalar-subquery shape; build side is exactly 1 row"),
    "train_curriculum_order" -> Map("ExistingRDD" ->
      "localCheckpoint pinning the range-partitioned sort so the |parts|-row count pass and the offset-assign pass read the SAME layout — the distributed total-order recipe that replaces the single-partition global window"),
  )
}
