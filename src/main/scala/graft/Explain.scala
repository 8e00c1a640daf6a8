package graft

/** Plan audit: prints the formatted physical plan of selected queries
  * so scan pushdown (PushedFilters/ReadSchema), broadcast choices and
  * WholeStageCodegen spans can be inspected per round — and ASSERTS
  * the invariants via [[audit]] (spec-gated, so an unpushed filter or
  * accidental cartesian product fails `sbt test`, not just a reviewer).
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {

  /** Plan substrings that must / must not appear for a query.
    *
    * VERSION PIN: every substring below (including attribute-reference
    * spellings like `collect_list(it#` / ` < it#`) is pinned against
    * the plan-string format of Spark 4.1.2 (`explain("formatted")` +
    * the analyzed-plan text). They prove the audited branch exists
    * SOMEWHERE in the tree — intentionally loose, since Catalyst may
    * reorder nodes — and a Spark upgrade that reformats plan strings
    * is expected to fail these specs loudly (re-pin, don't loosen).
    */
  final case class Rule(required: Seq[String] = Nil, forbidden: Seq[String] = Nil,
                        forbiddenRegex: Seq[String] = Nil)

  private val ExactPercentile = "(?<!approx_)percentile\\("
  private val NoFoldBuffer = Seq("collect_list")

  /** Invariants for the most expensive / most shuffle-prone queries.
    * Every rule also forbids `CartesianProduct` (a non-broadcast
    * cartesian is never intended anywhere in the engine — the declared
    * N² baselines are BROADCAST nested loops, which stream one side).
    * `required` entries pin the plan features the 100 TB posture
    * depends on: dimension broadcasts, scan-level filter pushdown,
    * and column pruning on the two-column document scans.
    */
  val AuditRules: Map[String, Rule] = Map(
    // fact-dim joins must broadcast the dims, never shuffle the fact twice
    "q3_topk" -> Rule(required = Seq("BroadcastHashJoin")),
    "q5_regional" -> Rule(required = Seq("BroadcastHashJoin")),
    "part_brand_revenue" -> Rule(required = Seq("BroadcastHashJoin")),
    "nation_trade_matrix" -> Rule(required = Seq("BroadcastHashJoin")),
    // every predicate of the filter-agg reaches the parquet scan
    "q6_revenue" -> Rule(required = Seq("PushedFilters: [IsNotNull")),
    // two-column document scans must prune to (doc_id, text)
    "term_search" -> Rule(required = Seq("ReadSchema: struct<doc_id:bigint,text:string>")),
    "inverted_index" -> Rule(required = Seq("ReadSchema: struct<doc_id:bigint,text:string>")),
    "dedup_spans" -> Rule(required = Seq("ReadSchema: struct<doc_id:bigint,text:string>")),
    // the expensive dedup/graph family: candidate generation must stay
    // bucket/gram-keyed (no cartesian anywhere in the tree)
    "contamination_check" -> Rule(),
    "contamination_bloom" -> Rule(),
    // the prefix-bucket pair expansion must carry BOTH branches of the
    // size-bounded switch: the in-buffer combination list for ordinary
    // buckets AND the mega-bucket self-join fallback (strict < on the
    // item), so one duplicate family can't blow an aggregation buffer
    "ngram_jaccard" -> Rule(required = Seq("collect_list(it#", " < it#")),
    // the aggregate twin keeps the same bounded-switch candidate shape
    // (over profile reps) and its output stays bin-bounded: no GLOBAL
    // (doc_a, doc_b) presentation sort may appear over the pair-scale
    // relation. The regex pins the global two-column sort specifically
    // — a bare "Sort [doc_a#" substring also matches a sort-merge
    // join's LOCAL sort on the doc_a join key, so once the profile /
    // verification joins stop broadcasting at scale the gate would
    // fail spuriously on a correct plan
    "ngram_jaccard_stats" -> Rule(required = Seq("collect_list(it#", " < it#"),
      forbiddenRegex = Seq("""Sort \[doc_a#\d+ ASC NULLS FIRST, doc_b#[^\]]*\], true""")),
    "containment_pairs" -> Rule(),
    // the banded Hamming join must BE the plan: the lossless band-keyed
    // EQUIJOIN (keys = (band, v), broadcast at spec scale, SMJ at 100 TB)
    // carries its bit_count(xor) verification in the join condition — a
    // pairwise rewrite would lose both the key shape and the substring
    // ...and the LISTING must not globally range-sort its own
    // output-mass-bound pair stream for presentation (the r14 fix:
    // the global sort tripled the key on disk-backed scratch; the
    // regex pins the top-level global=true two-column sort, not a
    // join's local doc_a sort — same shape as ngram_jaccard_stats)
    "simhash_pairs" -> Rule(required = Seq("bit_count(", "Join [band#"),
      forbiddenRegex = Seq("""Sort \[doc_a#\d+ ASC NULLS FIRST, doc_b#[^\]]*\], true""")),
    "simhash_pairs_stats" -> Rule(required = Seq("bit_count(", "Join [band#")),
    // the CC family must take the value-graph collapse (r11): the final
    // plan carries NO banded-pair bit_count verification stage — the
    // pair relation is never materialized (neardupComponents)
    "dedup_clusters" -> Rule(forbidden = Seq("bit_count(")),
    "neardup_apply" -> Rule(forbidden = Seq("bit_count(")),
    "dedup_provenance" -> Rule(forbidden = Seq("bit_count(")),
    "neardup_triangles" -> Rule(),
    "pipeline_clean" -> Rule(),
    "cooccur_pmi" -> Rule(),
    // both branches of the bounded bucket-pair switch (see ngram_jaccard)
    "minhash_lsh_pairs" -> Rule(required = Seq("collect_list(it#", " < it#")),
    // ANN: centroid assignment broadcasts the centroid table
    "knn_ivf" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    "knn_graph" -> Rule(),
    "bm25_topk" -> Rule(required = Seq("BroadcastHashJoin")),
    // both ranker legs must be TakeOrdered-bounded before the rank
    // window (the hybrid_search discipline — no unpartitioned window
    // over an unbounded candidate relation)
    "rrf_fusion" -> Rule(required = Seq("TakeOrderedAndProject")),
    "minhash_dedup_apply" -> Rule(),
    // the distinct basket frame is localCheckpoint'd once for its four
    // consumers, so the final plan must read ONLY the materialized RDD
    // (a parquet scan here means a branch re-derived the distinct)
    "basket_lift" -> Rule(required = Seq("BroadcastHashJoin"),
      forbidden = Seq("Scan parquet")),
    // the merge table is a local relation of the merges the trainer
    // collected; the corpus was scanned exactly once, into the word-table
    // checkpoint, so the final plan must not scan parquet
    "bpe_train" -> Rule(forbidden = Seq("Scan parquet")),
    // assembly packs via broadcast offsets; no corpus-wide window
    "media_interleave" -> Rule(required = Seq("BroadcastHashJoin")),
    "pack_tokens" -> Rule(required = Seq("BroadcastHashJoin")),
    "bpe_fertility" -> Rule(),
    "q10_returns" -> Rule(required = Seq("BroadcastHashJoin")),
    "q14_promo" -> Rule(required = Seq("BroadcastHashJoin")),
    "gram_novelty" -> Rule(),
    // sketch side = banded Hamming: the bit_count verification must
    // survive in the plan (the PPJoin truth side sits behind a
    // localCheckpoint, so its intersect_size is not visible here —
    // jaccard_hist pins that shape instead)
    "neardup_eval" -> Rule(required = Seq("bit_count(", "Join [band#")),
    // round-6 TPC-H flavors: star joins must broadcast their dims
    "q8_market_share" -> Rule(required = Seq("BroadcastHashJoin")),
    "q18_big_orders" -> Rule(required = Seq("BroadcastHashJoin")),
    "q17_small_qty" -> Rule(required = Seq("BroadcastHashJoin")),
    "q13_custdist" -> Rule(),
    "q22_idle_customers" -> Rule(required = Seq("PushedFilters: [IsNotNull(o_orderdate)")),
    // embedding ops: centroid table broadcast, candidates in-bucket only
    "semantic_dedup" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    "q15_top_supplier" -> Rule(required = Seq("PushedFilters: [IsNotNull(l_shipdate)")),
    "q19_disjunctive" -> Rule(required = Seq("BroadcastHashJoin")),
    // session-2 TPC-H flavors: two-role nation join broadcasts both
    // legs; the min-cost window rides a broadcast-pruned rollup; the
    // sole-late window rides the join's own orderkey exchange
    "q7_volume" -> Rule(required = Seq("BroadcastHashJoin")),
    "q2_mincost_supplier" -> Rule(required = Seq("BroadcastHashJoin")),
    "q16_supplier_variety" -> Rule(required = Seq("BroadcastHashJoin")),
    "q21_late_supplier" -> Rule(),
    "q12_ship_delay" -> Rule(),
    // vector-store occupancy: centroid table broadcast, never shuffled
    "ivf_bucket_stats" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    // session-2 additions: vocab/ranking stats broadcast; the Jaccard
    // histogram inherits the pair join's no-cartesian obligation
    "oov_rate" -> Rule(required = Seq("BroadcastHashJoin")),
    "query_ranked" -> Rule(required = Seq("BroadcastHashJoin")),
    "query_near" -> Rule(),
    // ...and the exact-Jaccard side must stay gram-hash-keyed (hh)
    "jaccard_hist" -> Rule(required = Seq("intersect_size(", "Join [hh#")),
    "media_size_report" -> Rule(),
    // the mismatch audit is ONE scan-filter-project: source comes off
    // the same documents row as the marker scores, so any join in the
    // plan means the score tree got re-derived (the r7 50× regression)
    "doc_lang_mismatch" -> Rule(
      required = Seq("ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>"),
      forbidden = Seq("Join")),
    "shard_assign" -> Rule(),
    "ann_probe_curve" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    "q11_important_parts" -> Rule(required = Seq("BroadcastHashJoin")),
    "q9_profit" -> Rule(required = Seq("BroadcastHashJoin")),
    "q20_excess_supply" -> Rule(required = Seq("BroadcastHashJoin")),
    "winnow_pairs" -> Rule(),
    "token_budget_allocation" -> Rule(),
    "index_prune_curve" -> Rule(),
    "champion_lists" -> Rule(),
    "vocab_coverage_curve" -> Rule(),
    "dup_cluster_size_hist" -> Rule(),
    // all-pairs cosine IS a term-keyed join now (rare-term blocking +
    // exact rescore): any CONDITIONED nested loop (the doc_a < doc_b
    // pair loop) is forbidden on the production path — the only NLJ
    // allowed is the condition-free 1-row corpus-count cross
    // (`BuildRight, Cross`); the doc×doc loop lives only in the
    // sample-bounded tfidf_cosine_dense audit twin
    "tfidf_cosine_pairs" -> Rule(forbidden = Seq(
      "BroadcastNestedLoopJoin BuildRight, Inner",
      "BroadcastNestedLoopJoin BuildLeft, Inner")),
    // ...and the audit twin is REQUIRED to be that declared broadcast
    // loop over its bounded sample, with the bound pushed to the scan
    "tfidf_cosine_dense" -> Rule(required = Seq(
      "BroadcastNestedLoopJoin", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)")),
    "inter_event_gap_hist" -> Rule(),
    // wedge enumeration must join on the shared-neighbor key (w),
    // never pair docs directly
    "neardup_linkpred" -> Rule(required = Seq("Join [w#")),
    "neardup_communities" -> Rule(),
    "ivf_silhouette" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    "boilerplate_scrub" -> Rule(
      required = Seq("ReadSchema: struct<doc_id:bigint,text:string>")),
    "bigram_lm_kn" -> Rule(), // vocab-sized sides: no pinned broadcast
    "events_burstiness" -> Rule(),
    "events_forecast_eval" -> Rule(),
    "quality_ppl_corr" -> Rule(),
    "metadata_k_anonymity" -> Rule(
      required = Seq("ReadSchema: struct<lang:string,source:string,n_chars:bigint>")),
    "quality_by_dup_status" -> Rule(),
    "shingle_df_hist" -> Rule(),
    "pack_efficiency_report" -> Rule(),
    "neardup_family_overlap" -> Rule(),
    "source_dup_matrix" -> Rule(required = Seq("bit_count(", "Join [band#")),
    "query_field" -> Rule(),
    "term_burstiness" -> Rule(),
    "session_length_hist" -> Rule(),
    "events_heatmap" -> Rule(),
    "ann_recall_curve" -> Rule(),
    "word_length_hist" -> Rule(),
    "heavy_hitters_cms" -> Rule(),
    // boundary design: the sample must be fixed-k bounded heaps and
    // the rank lookup an aggregate — never a row_number through one
    // unpartitioned window over a table-linear sample (the r9 finding)
    "range_boundaries" -> Rule(required = Seq("TakeOrderedAndProject"),
      forbidden = Seq("Window")),
    "band_bucket_stats" -> Rule(),
    "ivf_retrain" -> Rule(),

    // r8 additions: the NB model frames (counts, vocab, priors) are
    // vocab-bounded and must BROADCAST into the test-doc scoring join;
    // PQ distortion broadcasts its codebook the same way
    "nb_langid" -> Rule(required = Seq("BroadcastHashJoin")),
    "nb_langid_eval" -> Rule(required = Seq("BroadcastHashJoin")),
    "pq_distortion" -> Rule(required = Seq("BroadcastHashJoin")),
    // shared-base ranker eval: ONE tokenize feeds all rankers — the
    // checkpointed base shows as scan-free reuse, and the per-doc
    // ranker joins broadcast the model-side frames
    "ranker_eval" -> Rule(required = Seq("BroadcastHashJoin")),
    "events_stl" -> Rule(),
    "events_stl_anomaly" -> Rule(),
    // the levenshtein sweep must stream the aggregated vocabulary
    // against the BROADCAST query side, never the token stream
    "spell_correct" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    // both postings filter before the positional join; the prefix leg
    // must keep its StartsWith filter
    "phrase_prefix_search" -> Rule(required = Seq("StartsWith")),
    "ann_memory_report" -> Rule(),
    "events_holt_winters" -> Rule(),
    "events_forecast_compare" -> Rule(),
    "media_containment" -> Rule(),
    // one-pass contract (r11 item 5): the corpus rollup materializes
    // once up front; the emitted plan must re-read NO file at all
    "cms_error_curve" -> Rule(forbidden = Seq("FileScan")),
    // the r12 blocking guards: term-keyed passes, never doc×doc
    // (the implicit no-CartesianProduct pin is the contract)
    "tfidf_blocking_coverage" -> Rule(),
    "tfidf_blocking_recall" -> Rule(),
    "contamination_ngram8" -> Rule(),
    "events_ewma" -> Rule(),
    "query_slop" -> Rule(),
    "events_mad" -> Rule(),
    "funnel_latency" -> Rule(),
    "events_cusum" -> Rule(),
    "hapax_ratio" -> Rule(),
    "prf_expand" -> Rule(),
    "spell_candidates" -> Rule(),
    "events_autocorr" -> Rule(),
    "sentence_len_hist" -> Rule(),
    "query_fuzzy" -> Rule(),
    "events_holt" -> Rule(),
    // session-4 additions: the elbow sweep broadcasts its 30-row
    // (k, centroid) table; cluster reports broadcast the graph-bounded
    // cluster frame into the corpus join; the bridge self-join stays
    // key-partitioned
    "ivf_label_purity" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    "dedup_keep_best" -> Rule(),
    "cluster_source_purity" -> Rule(),
    "revenue_bridge" -> Rule(),
    "events_dow_profile" -> Rule(),
    "tokenizer_fertility" -> Rule(),
    "retention_curve" -> Rule(),
    "query_boost" -> Rule(required = Seq("BroadcastHashJoin")),
    // session-5 additions: the DSIR bucket-LM table broadcasts into
    // the per-doc join; curriculum boundaries and zorder maxima are
    // 1-row broadcast frames (never a shuffled cross)
    "dsir_weights" -> Rule(required = Seq("BroadcastHashJoin")),
    "zorder_layout" -> Rule(required = Seq("BroadcastNestedLoopJoin")),
    // hybrid fusion: both legs candidate-bounded (TakeOrdered heaps),
    // the dense leg's 1-row query vector broadcast
    "hybrid_search" -> Rule(required = Seq("TakeOrderedAndProject", "BroadcastNestedLoopJoin")),
    // weighted reservoir: bounded heaps, never a global sort
    "sample_weighted" -> Rule(required = Seq("TakeOrderedAndProject")),
    // skyline: bucketed two-phase recurrence, bucket offsets broadcast
    "skyline_orders" -> Rule(required = Seq("BroadcastHashJoin")),
    // LSH multiprobe: still ONE bucket-keyed join, probes exploded on
    // the tiny broadcast query side
    "knn_lsh_probe2" -> Rule(required = Seq("BroadcastHashJoin")),
    // r7 additions: WAND's phase-2 scoring must ride bounded heaps
    // (seed + final top-k are TakeOrdered, never a global sort) with
    // the tiny UB/θ frames broadcast; the greedy selectors likewise
    // end every step in a 1-row TakeOrdered; attribution inherits the
    // sessionize window shape (no cartesian anywhere)
    "wand_topk" -> Rule(required = Seq("TakeOrderedAndProject", "BroadcastHashJoin")),
    "wand_prune_stats" -> Rule(required = Seq("TakeOrderedAndProject")),
    // the greedy selectors checkpoint each step, so the terminal plan is a
    // sort over a 10-row checkpoint scan — the per-step TakeOrdered
    // heaps execute during construction and can't be asserted here;
    // the no-cartesian obligation still applies
    "mmr_rerank" -> Rule(),
    "kcenter_select" -> Rule(),
    "attribution_first_touch" -> Rule(),
    // global ranks run range-partitioned: rangeRank's `__bk` buckets,
    // never one unpartitioned window over the whole frame
    "revenue_gini" -> Rule(required = Seq("__bk")),
    "revenue_pareto" -> Rule(required = Seq("__bk")),
    "rfm_segments" -> Rule(required = Seq("__bk")),
    "rfm_migration" -> Rule(required = Seq("__bk")),
    "orders_abc_class" -> Rule(required = Seq("__bk")),
    "epoch_shuffle" -> Rule(required = Seq("__bk")),
    "ppl_bucket_mix" -> Rule(required = Seq("__bk")),
    // exact quartiles without an exact `percentile`, which keeps a
    // group's value→count map in one aggregation buffer: a rank lookup
    // (the 1-row boundary frame broadcast) and a per-source histogram
    "curriculum_order" -> Rule(required = Seq("BroadcastNestedLoopJoin", "__bk"),
      forbiddenRegex = Seq(ExactPercentile)),
    "source_length_quartiles" -> Rule(forbiddenRegex = Seq(ExactPercentile)),
    // double sums are plain partial aggregations: no group-sized
    // collect_list fold buffer (the ANN keys' dimension-bounded vector
    // rebuilds — knn_ivf_trained, knn_pq, knn_ivf_pq, ivf_retrain —
    // keep theirs)
    "mlt_topk" -> Rule(required = Seq("BroadcastHashJoin"), forbidden = NoFoldBuffer),
    "embedding_outliers" -> Rule(required = Seq("BroadcastNestedLoopJoin"),
      forbidden = NoFoldBuffer),
    "ivf_elbow" -> Rule(required = Seq("BroadcastNestedLoopJoin"), forbidden = NoFoldBuffer)) ++
    Seq("embedding_stats", "embedding_pca", "qlm_topk", "neardup_pagerank", "source_kl",
      "zipf_fit", "perplexity_doc", "term_entropy", "keyword_textrank", "mix_temperature",
      "events_twap", "hashing_vectorize", "char_entropy")
      .map(_ -> Rule(forbidden = NoFoldBuffer))

  /** The retired BM25 side table's directory: document lengths live
    * in the `_docs` manifests, and no index plan may read it again.
    */
  val RetiredStats = "_stats"

  /** Walks executed plans through AQE stages and subqueries. */
  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Whether `df`'s executed plan (AQE stages and subqueries included)
    * reads some relation partitioned by `column`, and every file scan
    * of such a relation carries a partition filter on `column`: the
    * read is pruned AT PLANNING TIME, not by a filter above the scan.
    * The plan string is no test of this: every file scan prints a
    * `PartitionFilters` entry, empty or not.
    */
  def prunes(df: org.apache.spark.sql.DataFrame, column: String): Boolean = {
    val scans = Plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.partitionSchema.fieldNames.contains(column) => s
    }
    scans.nonEmpty &&
      scans.forall(_.partitionFilters.exists(_.references.exists(_.name == column)))
  }

  /** The postings' partition column: a term lives in one bucket. */
  val TermBucket = "term_bucket"

  /** Saved-index retrieval invariants: every audited lookup path
    * but the prefix leaf must prune term buckets AT PLANNING TIME
    * ([[prunes]] on [[TermBucket]]), and the query grammar's prefix
    * leaf, which reads every bucket, must push its StartsWith into the
    * parquet scan — the reads that keep a saved 100 TB index query at
    * ≤ |terms|/nBuckets of the index. Audited by [[auditIndex]] over a
    * small index saved from sfDir, which also forbids [[RetiredStats]]
    * in every one of these plans.
    */
  val IndexAuditRules: Map[String, Rule] = Map(
    "index_lookup" -> Rule(),
    "index_lookup_terms" -> Rule(),
    "searchindex_prefix" -> Rule(required = Seq("StringStartsWith(term,quer")),
    // boolean and phrase queries evaluate per document over the ONE
    // bucket-pruned fetch: stored positions feed the window kernel as
    // arrays, so a Generate (positions re-exploded into token rows)
    // means the per-node join chain came back
    "searchindex_bool" -> Rule(forbidden = Seq("Generate", "documents")),
    "searchindex_phrase" -> Rule(forbidden = Seq("Generate", "documents")),
    // the index-served BM25 path: the leaf fetch is bucket-pruned at
    // planning time, the corpus NEVER appears, and n/avgdl are
    // literals, so no nested-loop (cross) join either
    "searchranked_index" -> Rule(forbidden = Seq("documents", "BroadcastNestedLoopJoin")),
    // fielded retrieval from the saved index (r14): term leaves still
    // bucket-prune, the lang: leaf reads the doc-keyed `_meta` side
    // table COLUMN-PRUNED to (id, field) — and the corpus never appears
    "searchindex_fielded" -> Rule(
      required = Seq("ReadSchema: struct<doc_id:bigint,lang:string>"),
      forbidden = Seq("documents")))

  /** Violations ("query: missing/forbidden …") over [[AuditRules]] —
    * empty = every audited plan holds its invariants. The audited
    * QUERY never runs (the initial physical plan already fixes hinted
    * broadcasts, scan pushdown and cartesians), but building some
    * plans executes the eager steps those pipelines declare — bloom
    * builds, localCheckpoints, connected-components rounds — so the
    * audit's cost scales with the sfDir it points at (specs run it at
    * sf0.001).
    */
  private def applyRule(name: String, rule: Rule, plan: String): Seq[String] =
    (rule.forbidden :+ "CartesianProduct").filter(plan.contains)
      .map(f => s"$name: forbidden plan feature $f") ++
      rule.forbiddenRegex.filter(_.r.findFirstIn(plan).isDefined)
        .map(f => s"$name: forbidden plan pattern $f") ++
      rule.required.filterNot(plan.contains)
        .map(r => s"$name: missing plan feature $r")

  /** Hot-scan keys whose pipelines must plan with ≥1 whole-stage
    * codegen subtree — checked through the codegen EXPLAIN mode
    * (generates the Java without running the query), because the
    * pre-execution AQE plan string carries no codegen markers. A
    * custom Expression missing doGenCode anywhere in these paths
    * would collapse the span to zero and fail here.
    */
  val CodegenAudit: Seq[String] = Seq("q1_agg", "q6_revenue", "wordcount",
    "minhash_signatures", "simhash", "hashing_vectorize")

  def audit(spark: org.apache.spark.sql.SparkSession, sfDir: String): Seq[String] =
    AuditRules.toSeq.sortBy(_._1).flatMap { case (name, rule) =>
      applyRule(name, rule,
        SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString)
    } ++ {
      // AQE wraps the plan in AdaptiveSparkPlanExec, which reports 0
      // codegen subtrees before execution — plan these keys with AQE
      // off so the codegen explain sees the real spans
      val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try CodegenAudit.flatMap { name =>
        val s = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
        if (s.contains("Found 0 WholeStageCodegen"))
          Seq(s"$name: no WholeStageCodegen subtree in the plan") else Nil
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }

  /** [[IndexAuditRules]] violations: saves a small index from sfDir
    * into a temp dir, then audits the saved-index retrieval plans
    * (single- and multi-term lookup, grammar queries with a prefix,
    * boolean, phrase and metadata leaf, and the ranked path).
    */
  def auditIndex(spark: org.apache.spark.sql.SparkSession, sfDir: String): Seq[String] = {
    val idx = java.nio.file.Files.createTempDirectory("graft-audit-idx")
      .toString + "/index"
    sources.IndexStore.save(operators.Index.invertedIndex(spark, sfDir), idx,
      nBuckets = 8)
    sources.IndexStore.saveMeta(sources.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source"), idx)
    val plans = Map(
      "index_lookup" ->
        sources.IndexStore.lookup(spark, idx, "spark", nBuckets = 8),
      "index_lookup_terms" ->
        sources.IndexStore.lookupTerms(spark, idx, Seq("spark", "join"), nBuckets = 8),
      "searchindex_prefix" ->
        operators.Query.searchIndex(spark, idx, "quer* AND NOT slow", nBuckets = 8),
      "searchindex_bool" ->
        operators.Query.searchIndex(spark, idx, "spark AND join", nBuckets = 8),
      "searchindex_phrase" ->
        operators.Query.searchIndex(spark, idx, "\"key order\"", nBuckets = 8),
      "searchranked_index" ->
        operators.Query.searchRankedIndex(spark, idx, "spark AND join",
          nBuckets = 8),
      "searchindex_fielded" ->
        operators.Query.searchIndex(spark, idx,
          "lang:en AND (spark OR query)", nBuckets = 8))
    IndexAuditRules.toSeq.sortBy(_._1).flatMap { case (name, rule) =>
      applyRule(name, rule.copy(forbidden = rule.forbidden :+ RetiredStats),
        plans(name).queryExecution.executedPlan.toString) ++
        (if (name == "searchindex_prefix" || prunes(plans(name), TermBucket)) Nil
         else Seq(s"$name: an index scan without a $TermBucket partition filter"))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q1_agg", "q3_topk", "term_search", "semi_join",
                  "asof_join", "inverted_index", "knn_ivf", "minhash_lsh_pairs",
                  "rrf_fusion", "funnel_steps", "salted_join", "sample_k",
                  "postings_compress", "ngram_jaccard", "knn_pq",
                  "contamination_check", "concurrency_peak", "cooccur_pmi",
                  "skew_report", "pipeline_clean")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None =>
          println(s"unknown query '$n'; valid names:\n  " +
            SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      }
    }
    println("\n========== audit ==========")
    val violations = audit(spark, sfDir) ++ auditIndex(spark, sfDir)
    if (violations.isEmpty)
      println(s"OK: ${AuditRules.size + IndexAuditRules.size + CodegenAudit.size} audited plans hold their invariants")
    else violations.foreach(v => println(s"VIOLATION $v"))
    spark.stop()
  }
}
