package graft

import org.scalatest.funsuite.AnyFunSuite

/** Run-to-run determinism: the engine's oracle strategy rests on every
  * query producing bit-identical output on re-execution (integer-exact
  * arithmetic, explicit tie-breaks, seeded hashes, total orderings).
  * The DuckDB gate checks Spark vs DuckDB once; this pins Spark vs Spark
  * across executions within a session for the queries where
  * nondeterminism would most plausibly creep in: sketch aggregates
  * (merge order), iterative algorithms (partitioning), heap aggregates
  * (eviction order), and sampling.
  */
class DeterminismSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  private val underTest = Seq(
    "graph_pagerank",      // scaled-integer ranks: partition-order-independent
    "dedup_minhash",       // seeded MinHash + LSH banding
    "agg_kmv_distinct",    // mergeable KMV sketch: set-determined state
    "text_heavy_hitters",  // Misra-Gries merge + exact re-count
    "sample_weighted",     // integer-exact priority sampling
    "win_topk_agg",        // heap eviction under (value DESC, key ASC)
    "dedup_clusters",      // iterative label propagation fixpoint
    "agg_approx_quantile", // GK summary merge order must not break the claim
    "agg_approx_distinct", // HLL merge order must not break the claim
    "text_span_scrub",     // anti-join + ordered reassembly
    "text_vocab_encode",   // global id window + ordered reassembly
    "emb_assign_nearest",  // argmax over float cosines with cell tiebreak
    "ts_anomaly_mad",      // percentile interpolation + round6'd threshold
    "agg_hll_union",       // DataSketches two-level union must not break the claim
    "agg_cms_heavy",       // CMS partial merge order; fixed seed
    "sketch_kmv_setops",   // merged bottom-k arrays + estimator arithmetic
    "ts_ewma_dyadic",      // integer dyadic weights; one final IEEE division
    "agg_spearman",        // total-order ranks after duplicate collapse
    "dq_checksum",         // commutative combiners under any partitioning
    "flow_markov_transitions", // lag window + exact-count division
    "emb_kmeans_iter",     // integer-quantized centroid sums under any partitioning
    "emb_pq_encode",       // codebook snap ties + fixed-order distance sums
    "join_asof_nearest",   // dual-window nearest choice on integer microsecond deltas
    "graph_label_prop",    // synchronous rounds + explicit argmax tie-break
    "join_pit_scd2",       // as-of version carry with dim-before-probe tie order
    "text_bpe_train",      // 3 argmax rounds with (count DESC, pair ASC) ties
    "text_bigram_xent",    // decimal-routed log sums over shuffle joins
    "win_clamped_cumsum",  // Lindley closed form: integer windows only
    "sql_skyline_pareto",  // output is partitioning-independent; candidates are not
    "win_rolling_regr",    // BIGINT rolling sums; one final division
    "agg_t_test",          // exact moments; mirrored IEEE t/df chain
    "agg_gini",            // rank-sum statistic, tie-order invariant
    "flow_rfm_segments",   // distributed globalRank + closed-form ntile
    "flow_max_concurrency", // distributed prefix-sum over the sweep total order
    "train_mixture_sample", // largest-remainder quotas + hash-priority fill
    "mm_phash_near_pairs", // band LSH on distinct signatures + bit_count verify
    "graph_kcore",         // 3 synchronous peel rounds on the cached edge list
    "emb_norm_outliers",   // integer norm moments; one IEEE sqrt/division
    "sim_mips_topk",       // fixed-order vec_dot + total-order rank
    "text_watermark_detect", // md5-parity greens; integer z numerator
    "train_shard_manifest", // XOR fingerprint + counters under any merge order
    "ts_autocorr",         // DECIMAL-routed lag products on the bounded series
    "agg_percentile_dist",  // histogram selection: integer positions, bucket-local ranks
    "agg_percentile_grouped", // per-group histogram selection
    "agg_percentile_weighted", // weight histogram + integer cumw crossing
    "graph_connected_components", // monotone hash-min rounds
    "graph_cc_pointer_doubling", // hash-min + label-jump rounds to fixpoint
    "graph_modularity",    // exact integer Q numerator over cached LPA labels
    "graph_assortativity", // DECIMAL-routed degree products
    "emb_covariance",      // mergeable integer Gramian state
    "flow_attribution_linear", // integer micro-cent split, total-ordered remainders
    "ts_theilsen",         // explicit rank-formula medians on the pair table
    "train_curriculum",    // globalRank + closed-form ntile over the doc table
    "dedup_ngram_minhash", // md5-permutation minhash banding + exact verify
    "dedup_ngram_minhash_recall", // both pair pipelines + one division
    "emb_pca_power",       // exact Gramian numerators; ordered IEEE folds
    "emb_matryoshka_recall", // two brute rank passes on round6'd cosines
    "agg_robust_mean",     // selection-substrate fences + DECIMAL-routed sums
    "flow_gap_percentiles", // lag deltas into the value-collapse substrate
    "dq_drift_psi",        // exact bucket counts; shares/ln at the end
    "dq_ref_integrity",    // anti-join counts only
    "text_boilerplate_spans", // md5 spans, exact df counts, integer threshold
    "ts_forecast_snaive",  // integer error terms, micro-unit MAPE quantization
    "text_dup_substring_runs", // md5 spans + integer island arithmetic
    "dedup_incremental",   // band joins vs frozen index + exact verify
    "emb_kmeans_converge", // integer-quantized Lloyd loop to movement fixpoint
    "emb_centroid_drift",  // integer sums + dim-ordered Δ² fold
    "graph_truss_support", // exact triangle explode + hash agg
    "sim_ivfpq_residual_recall", // trained codebook from integer-exact Lloyd rounds
    "dq_sequence_gaps",    // range-prefix successor across empty ranges
    "text_lm_ppl_filter",  // range-prefix rank + decimal-routed xent
    "graph_bfs_khop",      // min-dist hops at the session's width
  )

  underTest.foreach { name =>
    test(s"$name is bit-identical across two executions") {
      val q = SparkEntry.queries(name)
      val a = q(s, dir).collect().map(_.toString).toSeq
      val b = q(s, dir).collect().map(_.toString).toSeq
      assert(a == b, s"$name drifted between runs: first diff at index " +
        a.zip(b).indexWhere { case (x, y) => x != y })
    }
  }
}
