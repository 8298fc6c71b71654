package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan regression guard: no query may silently plan an unbounded
  * cartesian. Queries that are brute-force BY DESIGN (documented pair
  * scans over the small embeddings/simhash spaces, with blocked scale
  * paths alongside) are whitelisted explicitly — additions to this list
  * should hurt a little. Each plan audited is the one that CatalogSweep
  * records on its walk of the catalog (SparkEntry.walk).
  */
class PlanAuditSpec extends AnyFunSuite {
  /** intentional cross/pair scans (each has a blocked scale path). */
  private val intentionallyUnbounded = Set(
    "ann_cosine_topk",      // broadcast query set × corpus scan
    "ann_dim_truncation",   // the ann_cosine_topk shape per dim budget
    "ann_hard_negatives",   // broadcast query set × corpus scan with a
                            // label-inequality filter — LINEAR in corpus
    "ann_similarity_histogram", // broadcast probe set × corpus scan —
                            // LINEAR in the corpus by construction
    "ann_ivf_topk",         // broadcast centroids × corpus (assignment)
    "ann_ivf_recall",       // composes the two above
    "ann_ivf_probe_curve",  // the ann_ivf_topk assignment/probe shapes +
                            // the brute ground truth + per-budget 1-row
                            // (candidates, hits, exact) aggregates crossed
    "ann_ivfadc_topk",      // broadcast centroids × corpus/queries (the
                            // ann_ivf_topk assignment/probe shapes); the
                            // PQ encode itself is an equi-join on s
    "ann_ivfadc_recall",    // composes ann_ivfadc_topk + the brute scan
    "ann_ivfadc_refine_curve", // the ann_ivfadc_topk shapes + the brute
                            // ground truth + per-depth 1-row aggregates
                            // crossed — the probe-curve shape
    "ann_knn_classify",     // composes ann_cosine_topk (whitelisted above)
    "ann_graph_topk",       // broadcast centroids × corpus (the semdedup
                            // assignment) + broadcast queries × the
                            // stride-sampled coarse entry layer — bounded
    "ann_graph_recall",     // composes ann_graph_topk + the brute scan
    "ann_incremental",      // broadcast centroids × corpus, three times
                            // (the two Lloyd arms' assignment passes +
                            // the drift census's argmax pair) — each the
                            // ann_ivf_topk shape, LINEAR in the corpus
    "ann_incremental_graph", // the same broadcast assignment shapes per
                            // arm + the graph search's bounded 1-row
                            // (edges, candidates, hits, exact) crosses
                            // — the ann_graph_beam_curve shape
    "search_mmr_rerank",    // broadcast query set × corpus scan for the
                            // first-stage shortlist (the ann_cosine_topk
                            // shape); the greedy rounds are equi-joins
                            // over ≤ shortlist rows per query
    "ann_graph_degree",     // composes the graph construction (the
                            // semdedup broadcast assignment) — the edge
                            // histogram itself is two hash aggs
    "ann_graph_build_cost", // same construction + three 1-row count
                            // aggregates crossed — bounded
    "ann_graph_clustering", // same construction; the triangle pass is
                            // equi-joins over the bounded-degree edges,
                            // then three 1-row aggregates crossed
    "events_ab_sequential", // 1-row day-zero + final-total broadcasts and
                            // the 2-row variant dim crossed onto the
                            // ≤days spine — all bounded
    "ann_graph_beam_curve", // the graph search per beam width + the brute
                            // ground truth + per-width 1-row (candidates,
                            // hits, exact) aggregates crossed — the
                            // probe-curve shape
    "ann_graph_prune_curve", // the identical curve over the hub-pruned
                            // edges — same bounded 1-row crosses
    "ann_graph_layered_curve", // the beam-curve shape with the middle
                            // segment's walk added — same bounded crosses
    "cdc_registry_asof",    // the as-of registry join broadcasts an
                            // O(relations·versions) log (2 rows here);
                            // the envelope's constant tableName folds
                            // the equi key away, leaving a bounded BNLJ
                            // over a planner-sized dim — the __k class
    "ann_clustered_beam_curve",  // the uniform-cohort shapes above
    "ann_clustered_prune_curve", // re-run verbatim over the clustered
    "ann_clustered_incremental_graph", // cohort (one implementation —
    "ann_clustered_semdedup_recall",   // see CLUSTERED_SFX) — same
    "ann_clustered_graph_clustering",  // bounded broadcasts and 1-row
    "ann_clustered_ivf_probe_curve",   // crosses
    "ann_clustered_ivfadc_topk",       // the r16 PQ/IVFADC + layered
    "ann_clustered_ivfadc_recall",     // cohort arms — the identical
    "ann_clustered_ivfadc_refine_curve", // whitelisted uniform shapes
    "ann_clustered_layered_curve",     // routed through clusteredDir
    "ann_clustered_bridge_curve",      // r17 bridge arm — the beam-curve
                                       // shape over base+bridge edges
    "ann_lsh_bucket",       // bucket-join, but tiny bucket count at sf0.001
    "ann_semdedup",         // broadcast centroids × corpus (assignment —
                            // the ann_ivf_topk shape); pair search itself
                            // is a cent_id equi-join
    "ann_semdedup_recall",  // composes ann_semdedup's assignment plus the
                            // documented brute-force ground-truth scan
    "dedup_embedding_cosine", // documented brute-force baseline
    "dedup_lsh_tradeoff",   // 1-row candidate-count aggregate crossed
                            // into the 1-row recall aggregate — bounded
    "dedup_simhash_pairs",  // all-pairs hamming scan (banded is the scale path)
    "join_range",           // band predicate vs 4-row broadcast dim: BNLJ is the plan
    "join_cross_dims",      // explicit CROSS JOIN of two ≤25-row dims
    "search_bm25_topk",     // scalar-(N, total-tokens) subquery: the
                            // text_tfidf constant-key 1-row broadcast shape
    "text_tfidf",           // scalar-N subquery: the constant-key join to the
                            // 1-row COUNT(*) aggregate constant-folds into a
                            // single-row broadcast — the same physical shape
                            // Spark gives ScalarSubquery, bounded by design
    "text_source_mix",      // same scalar-subquery shape: 1-row total-tokens
                            // (resp. min-budget) aggregate joined on a
                            // constant key — a 1-row broadcast, bounded
    "text_source_sample",
    "layout_zorder",        // 1-row max-key aggregate broadcast into the
                            // scan for range normalization — bounded
    "layout_hilbert",       // same 1-row normalizer broadcast as
    "layout_hilbert_gain",  // layout_zorder / layout_skipping_gain
    "profile_sample_error", // two 1-row boundary-array aggregates broadcast
                            // into the per-user pass (the events_rfm shape)
    "join_skew_profile",    // 1-row global-stats aggregate broadcast into
                            // the per-key frequencies — bounded
    "text_source_temperature", // 1-row weight-normalizer aggregate
                               // broadcast into the per-source counts
    "text_length_histogram", // 1-row total-docs aggregate broadcast into
                            // the per-bucket counts — bounded
    "q11_important_parts",  // 1-row global-total aggregate broadcast as the
                            // importance threshold — bounded
    "q15_top_supplier",     // 1-row MAX(revenue) aggregate broadcast for the
                            // top-supplier equality — bounded
    "q22_idle_balances",    // 1-row AVG(positive balance) aggregate broadcast
                            // as the balance threshold — bounded
    "agg_hll_mergeable",    // 1-row global exact-distinct aggregate broadcast
                            // next to the union-sketch estimate — bounded
    "agg_hll_cube",         // same shape at the lattice root: 1-row global
                            // exact-distinct next to the union estimate
    "agg_kll_quantile_rollup", // 1-row global exact-percentile aggregate
                            // broadcast next to the merged sketch — bounded
    "text_dsir_select",     // two 1-row token-total aggregates (corpus,
                            // target) crossed into the per-doc scores —
                            // the text_pmi_ratio normalizer shape, bounded
    "text_pmi_ratio",       // 1-row corpus-token-total aggregate broadcast
                            // into the pair/unigram join — bounded
    "events_anomaly_days",  // 1-row moment aggregate (n, Σ, Σ²) broadcast
                            // into the O(days) daily counts — bounded
    "text_split_divergence", // 1-row split-total aggregate broadcast into
                            // the O(sources) count relation — bounded
    "cdc_snapshot_diff",    // 1-row max-LSN fence aggregate broadcast into
                            // the event scan — bounded
    "dedup_pair_triangles", // 1-row edge/wedge/triangle count aggregates
                            // cross-combined into the single report row
    "events_changepoint",   // 1-row (n_days, Σ) aggregate broadcast into
                            // the O(days) daily counts — bounded
    "cdc_incremental_join", // 1-row max-LSN fence aggregate broadcast into
                            // the event scan — bounded
    "events_power_pareto",  // 1-row (n_users, total, threshold) aggregates
                            // broadcast into the O(distinct per-user
                            // counts) histogram — bounded
    "layout_range_split",   // 1-row sorted-boundary-array aggregate
                            // (≤ SPLITS−1 values) broadcast into the
                            // distinct-key pass — bounded
    "join_bloom_prune",     // 1-row filter-size (m) aggregate broadcast
                            // into build/probe hashing, and the final
                            // 1-row × 1-row summary combine — bounded
    "events_rfm",           // 1-row global-max-day and ≤4-element
                            // boundary-array aggregates broadcast into
                            // the per-user assignment — bounded
    "profile_benford",      // 1-row digit-total aggregate broadcast into
                            // the ≤9-row digit counts — bounded
    "text_tfidf_cosine_pairs", // 1-row COUNT(*) aggregate broadcast as the
                            // integer-idf numerator — bounded
    "layout_skipping_gain", // 1-row max-key aggregate broadcast for range
                            // normalization (the layout_zorder shape)
    "text_source_modularity", // 1-row total-edge aggregate broadcast into
                            // the O(sources) census — bounded
    "cdc_tombstone_gc",     // 1-row max-LSN fence aggregate broadcast
                            // into the per-key heads — bounded
    "events_ab_readout",    // 1-row total-users aggregate broadcast into
                            // the O(variants) readout — bounded
    "search_keyword_topk",  // 1-row corpus-count aggregate broadcast as
                            // the integer-idf numerator — bounded
    "events_anomaly_mad",   // two 1-row percentile aggregates (median,
                            // MAD) broadcast into the O(days) series
    "cdc_low_watermark",    // 1-row head-LSN and low-watermark
                            // aggregates broadcast into the O(consumers)
                            // progress table — bounded
    "cdc_consumer_freshness", // 1-row head (LSN, µs) and low-watermark
                            // aggregates broadcast into the O(consumers)
                            // freshness dashboard — bounded
    "text_zipf_spectrum",   // 1-row total-occurrence aggregate broadcast
                            // into the ≤64-row octave bands — bounded
    "text_unigram_surprise", // 1-row corpus-bit-length aggregate broadcast
                            // into the source×vocab join — bounded
    "join_size_estimate",   // three 1-row aggregates (|A|, |B|, exact,
                            // estimate) cross-combined into the single
                            // report row — bounded
    "events_survival_curve", // 1-row collected factor-array aggregate
                            // broadcast into the O(day offsets)
                            // histogram for the ordered fold — bounded
    "search_hybrid_fusion", // 1-row probe-vector broadcast into the
                            // corpus scan (the ann-family shape) plus
                            // the 1-row corpus-count idf numerator
    "events_theilsen_trend", // O(days)×O(days) inequality pair expansion
                            // of the planner-sized day roll-up — bounded
    "text_heaps_curve",     // 1-row max-doc-id aggregate broadcast into
                            // the doc and first-seen censuses — bounded
    "dedup_contamination_lsh", // three 1-row count aggregates (exact,
                            // candidates, found) cross-combined into
                            // the single recall row — bounded
    "cdc_slot_retention",   // 1-row head/low-watermark/total aggregates
                            // cross-combined; the low-watermark fence
                            // broadcast into the retained scan — bounded
    "dedup_lexical_semantic_overlap", // three 1-row pair counts cross-
                            // combined into the single census row
                            // (both pair inputs blocked since r12)
    "dedup_embedding_lsh_recall", // composes the DECLARED brute-force
                            // cosine baseline as recall ground truth
                            // (the dedup_lsh_recall convention; at
                            // production scale the truth side is a
                            // fixed probe sample) + 1-row count combine
    "profile_quantile_sample_curve", // 1-row sorted-boundary-array
                            // aggregates (≤4 values, one exact + one
                            // per registered rate) broadcast into the
                            // per-user assignment — the events_rfm
                            // shape swept across three rates
    "events_ab_did",        // 1-row global (d0, d1) day-range aggregate
                            // broadcast into the period split; 1-row
                            // cell pivot — bounded
    "events_ab_cuped",      // 1-row day-range broadcast + two 1-row
                            // moment relations (global, variant pivot)
                            // cross-combined into the single readout
                            // — bounded
    "events_ab_qte",        // two 1-row sorted-boundary-array
                            // aggregates (≤3 values per arm)
                            // cross-combined into the 3-row QTE table
                            // — bounded
    "profile_value_drift_tv", // 1-row day-range aggregate broadcast
                            // into the period split (the events_ab_did
                            // shape) — bounded
    "cdc_retained_state",   // 1-row head-LSN fence aggregate broadcast
                            // into the O(deleted keys) tombstone leg
                            // (the cdc_tombstone_gc shape) — bounded
    "cdc_state_rollup"      // 1-row total-keys aggregate broadcast into
                            // the O(types) state roll-up — bounded
  )

  GraftSession.catalog.foreach { name =>
    if (!intentionallyUnbounded(name) && !name.endsWith("_clusters") &&
        name != "agg_cms_heavy_hitters" && name != "dedup_keep_canonical" &&
        name != "dedup_cluster_sizes") { // composes dedup_clusters
      // the *_clusters queries (and dedup_keep_canonical, which composes
      // one) execute driver-side label-propagation loops at construction;
      // their component joins are key-equi by construction (covered by
      // their own oracle + spec). agg_cms_heavy_hitters builds its sketch
      // with driver-side actions at construction — its final plan is a
      // LocalTableScan that can never contain a join.
      test(s"plan audit: $name has no unintended cartesian") {
        val plan = CatalogSweep.catalog.plan(name)
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin:\n$plan")
      }
    }
  }
}
