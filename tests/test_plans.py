"""Physical-plan audits: lock in the scale-critical plan properties so a
refactor that silently drops pushdown, broadcasts, or top-k pushdown fails
CI — the plan IS the product at 100 TB, not just the row values.
"""

from __future__ import annotations

import pytest

from cdc_streamming___v2_spark.operators import relational as R
from cdc_streamming___v2_spark.operators import relational_ext as RX
from cdc_streamming___v2_spark.operators import similarity as S

from .conftest import SF_SMALL


def _plan(spark, df) -> str:
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def test_q3_filters_reach_scans_and_dims_broadcast(spark):
    p = _plan(spark, R.q3_shipping_priority(spark, SF_SMALL))
    # the segment predicate must be INSIDE the parquet scan, not a post-filter
    assert "PushedFilters" in p and "EqualTo(c_mktsegment,BUILDING)" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q3_column_pruning(spark):
    p = _plan(spark, R.q3_shipping_priority(spark, SF_SMALL))
    # customer scan must not read untouched wide columns
    assert "c_name" not in p.split("ReadSchema")[1].splitlines()[0]


def test_q10_date_range_pushed_and_topk(spark):
    p = _plan(spark, RX.q10_returned_items(spark, SF_SMALL))
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "EqualTo(l_returnflag,R)" in p
    assert "TakeOrderedAndProject" in p  # limit+order fused, no global sort


def test_topk_never_global_sorts(spark):
    p = _plan(spark, R.top_customers(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p


def test_cosine_topk_broadcasts_query_side(spark):
    p = _plan(spark, S.cosine_topk(spark, SF_SMALL))
    # tiny query side broadcast: corpus must NOT shuffle for the pairing
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_lsh_candidates_are_equi_join(spark):
    p = _plan(spark, S.ann_lsh_topk(spark, SF_SMALL))
    # bucketing must produce a hashable equi-join, never a cross product
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_embedding_near_dup_banded_not_cartesian(spark):
    """The near-dup candidate step must be an equi-join on the fingerprint
    band — an all-pairs cross join here is O(N^2) at corpus scale."""
    from cdc_streamming___v2_spark.operators import dedup as D

    p = _plan(spark, D.embedding_near_dup(spark, SF_SMALL))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_round2_ops_never_plan_cartesian(spark):
    """Blanket plan audit for the round-2 operators: none may contain a
    CartesianProduct node (the 1-row scalar broadcasts plan as BNLJ, which
    is fine and excluded from this check)."""
    from cdc_streamming___v2_spark.operators import analytics as A2
    from cdc_streamming___v2_spark.operators import dedup as D2
    from cdc_streamming___v2_spark.operators import graph as G2
    from cdc_streamming___v2_spark.operators import scd2_queries as SQ2
    from cdc_streamming___v2_spark.operators import sketches as K2
    from cdc_streamming___v2_spark.operators import text_analysis as T2

    for fn in (
        D2.jaccard_prefix_join,
        D2.incremental_near_dup,
        G2.triangle_count,
        T2.lm_bigram_quality,
        K2.hll_merge_groups,
        K2.rolling_distinct_users,
        A2.anomaly_days,
        A2.data_quality_checks,
        A2.ewma_user_value,
        SQ2.scd2_join_as_of,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_pagerank_edge_build_broadcasts_dims(spark):
    """The lineitem-sized edge build must broadcast the fixed-cardinality
    supplier/customer key maps; power-iteration rounds must never plan a
    corpus-sized cartesian (the only cross join is the 1-row dangling-mass
    scalar)."""
    from cdc_streamming___v2_spark.operators import graph as G

    p = _plan(spark, G.pagerank_nations(spark, SF_SMALL))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_partial_aggregation_before_shuffle(spark):
    # map-side combine: every groupBy must plan partial_* functions below
    # the exchange (the shuffle carries group cardinality, not row count)
    for fn in (R.q1_pricing_summary, RX.q13_customer_distribution):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "partial_" in p, fn.__name__


def test_scd2_single_shuffle(spark):
    from cdc_streamming___v2_spark.operators import scd2_queries as SQ

    p = _plan(spark, SQ.scd2_latest_state(spark, SF_SMALL))
    # one window over one key = exactly one exchange; a second would mean
    # the filter or projection broke partitioning reuse
    assert p.count("+- Exchange") + p.count(":- Exchange") == 1


def test_sketch_probe_sides_broadcast(spark):
    from cdc_streamming___v2_spark.operators import sketches as K

    # CMS: the d-cells-per-key probe frame must broadcast against the grid
    p = _plan(spark, K.countmin_freq(spark, SF_SMALL))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # Bloom: the bit set (<= m distinct ints) must broadcast, never shuffle
    # the fact side against it
    p = _plan(spark, K.bloom_prefilter(spark, SF_SMALL))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_pii_scrub_is_scan_local(spark):
    from cdc_streamming___v2_spark.operators import pipeline_ops as P

    # narrow cleaning pass: no exchange of any kind in the plan
    p = _plan(spark, P.pii_scrub(spark, SF_SMALL))
    assert "Exchange" not in p
    p = _plan(spark, P.dataset_split(spark, SF_SMALL))
    assert "Exchange" not in p


def test_decontaminate_eval_side_broadcasts(spark):
    """The training corpus must stream through a broadcast hash join on the
    (tiny) eval shingle set — a shuffled join here would reshuffle 100 TB
    of corpus by shingle."""
    from cdc_streamming___v2_spark.operators import pipeline_ops as P

    p = _plan(spark, P.decontaminate(spark, SF_SMALL))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_kmeans_ivf_centroids_broadcast_every_round(spark):
    """Every Lloyd round joins the corpus against k centroid rows — all of
    them must be broadcast nested-loop/cross joins (k rows), never a
    corpus-sized shuffle join; the only exchanges keyed by data size are
    the vec_id argmax windows and (cell, dim) means."""
    p = _plan(spark, S.ann_ivf_kmeans_topk(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_seq_packing_no_global_window(spark):
    """The whole point of the two-pass prefix sum: no empty-partition-key
    window over the full corpus (which Spark executes in ONE task)."""
    from cdc_streamming___v2_spark.operators import corpus_ops as C

    p = _plan(spark, C.seq_packing(spark, SF_SMALL))
    # doc-level cumsum window must carry the bucket partition key; the only
    # unpartitioned window runs over the tiny bucket-totals frame
    # (rows = n_docs/PACK_BUCKET), never over doc-level rows
    doc_window = next(
        line for line in p.splitlines() if "sum(n_tokens" in line
    )
    assert "windowspecdefinition(bkt" in doc_window
    assert "BroadcastHashJoin" in p  # bucket offsets join back broadcast


def test_aqe_skew_join_splits_skewed_partition(spark):
    """VERDICT r2 #7: skew_salted_join proves MANUAL salting; this proves
    the AQE path — OptimizeSkewedJoin splits an oversized post-shuffle
    partition at runtime (executed plan marks the join skew=true). Local
    data is far below the production 256MB skew threshold, so the test
    lowers the thresholds; the mechanism is identical at scale."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 90% of left rows share key 0 -> one huge shuffle partition
        left = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("p"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right, "k").groupBy().count()
        j.collect()  # AQE decisions exist only in the EXECUTED plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_equi_depth_histogram_no_global_ntile_window(spark):
    """VERDICT r2 #3: the equi-depth bucketing must never run a global
    (empty-partition-key) window over order-level rows — the rank comes
    from the rbkt-partitioned two-pass decomposition; the only
    unpartitioned window runs over the tiny bucket-counts frame."""
    from cdc_streamming___v2_spark.operators import analytics as A

    p = _plan(spark, A.equi_depth_histogram(spark, SF_SMALL))
    assert "ntile" not in p.lower()
    row_window = next(
        line for line in p.splitlines() if "row_number()" in line
    )
    assert "windowspecdefinition(rbkt" in row_window
    assert "BroadcastHashJoin" in p  # bucket offsets join back broadcast


def test_tfidf_df_and_count_broadcast(spark):
    from cdc_streamming___v2_spark.operators import corpus_ops as C

    p = _plan(spark, C.tfidf_top_terms(spark, SF_SMALL))
    # per-term df frame and the scalar doc count both broadcast: the big
    # exploded token frame never shuffles for the joins (only for its agg)
    assert p.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in p


def test_semantic_dedup_cell_join_not_cartesian(spark):
    from cdc_streamming___v2_spark.operators import corpus_ops as C

    p = _plan(spark, C.semantic_dedup(spark, SF_SMALL))
    # within-cell pairing must be an equi-join on the cell id (quadratic
    # only inside a cell), never a corpus-wide cartesian product
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_round3_ops_never_plan_cartesian(spark):
    """Blanket plan audit for every round-3 operator: no CartesianProduct
    anywhere (1-row scalar broadcasts plan as BNLJ and are fine; the MMR
    pool's intentional query-broadcast BNLJ likewise)."""
    from cdc_streamming___v2_spark.operators import analytics as A3
    from cdc_streamming___v2_spark.operators import behavior as B3
    from cdc_streamming___v2_spark.operators import dedup as D3
    from cdc_streamming___v2_spark.operators import graph as G3
    from cdc_streamming___v2_spark.operators import maintenance as MT3
    from cdc_streamming___v2_spark.operators import scd2_queries as SQ3
    from cdc_streamming___v2_spark.operators import similarity as S3

    for fn in (
        MT3.incremental_agg_maintain,
        MT3.zorder_layout,
        B3.attribution_credit,
        B3.session_path_analysis,
        A3.trend_fit,
        A3.mutual_information,
        A3.winsorized_stats,
        A3.k_anonymity,
        A3.seasonality_strength,
        A3.cusum_changepoint,
        A3.chi2_drift,
        G3.bfs_hops,
        S3.ann_pq_topk,
        S3.silhouette_score,
        S3.mmr_diverse_topk,
        SQ3.scd2_snapshot_diff,
        D3.sorted_neighborhood_pairs,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_zorder_quantization_is_single_scan_plus_broadcast(spark):
    """The z-value compute must be a narrow map over ONE orders scan with
    the bounds row broadcast — no re-scan per dimension, no sort."""
    from cdc_streamming___v2_spark.operators import maintenance as MT3

    p = _plan(spark, MT3.zorder_layout(spark, SF_SMALL))
    assert "CartesianProduct" not in p
    # orders appears once for the main pass plus the bounds-agg side
    # (up to two per branch before exchange reuse kicks in)
    assert p.count("Scan parquet") <= 4


def test_mmr_pool_is_lsh_equi_join_and_windows_partitioned(spark):
    """VERDICT r3 #5: the registered MMR query's candidate pool must come
    from the LSH bucket equi-join (no corpus-wide brute-force scan at
    selection time), and every window in the DAG must be query_id-
    partitioned (no single-partition WindowExec anywhere)."""
    from cdc_streamming___v2_spark.operators import similarity as S

    e = S._embeddings(spark, SF_SMALL)
    pool = S.lsh_topk_frame(e, top_k=S.MMR_POOL)
    p = _plan(spark, pool)
    # candidates come from an equi-join on bucket — a hash/sort-merge join,
    # never the BroadcastNestedLoopJoin the brute-force pool plans
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert (
        "BroadcastHashJoin" in p or "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
    )
    n_windows = p.count("windowspecdefinition(")
    assert n_windows >= 1
    assert p.count("windowspecdefinition(query_id") == n_windows

    # final MMR frame (post-checkpoint rounds): same no-global-window rule
    pf = _plan(spark, S.mmr_diverse_topk(spark, SF_SMALL))
    nw = pf.count("windowspecdefinition(")
    assert pf.count("windowspecdefinition(query_id") == nw


def test_round4_ops_never_plan_cartesian(spark):
    """Blanket plan audit for every round-4 operator: no CartesianProduct
    anywhere (1-row scalar broadcasts plan as BNLJ and are fine, as is
    the cosine pool's intentional query-broadcast BNLJ)."""
    from cdc_streamming___v2_spark.operators import analytics as A4
    from cdc_streamming___v2_spark.operators import corpus_ops as C4
    from cdc_streamming___v2_spark.operators import dedup as D4
    from cdc_streamming___v2_spark.operators import graph as G4
    from cdc_streamming___v2_spark.operators import pipeline_ops as P4
    from cdc_streamming___v2_spark.operators import similarity as S4
    from cdc_streamming___v2_spark.operators import temporal as T4
    from cdc_streamming___v2_spark.operators import text_analysis as TA4

    for fn in (
        C4.bm25_topk,
        C4.source_boilerplate,
        TA4.bpe_pair_counts,
        TA4.quality_logit_score,
        TA4.char_entropy,
        P4.mixture_weights,
        P4.dsir_importance_weights,
        A4.robust_mad_outliers,
        A4.ks_drift,
        A4.wow_growth,
        A4.holt_forecast,
        A4.acf_daily_revenue,
        A4.benford_deviation,
        A4.quantile_normalize,
        A4.correlation_matrix,
        S4.hybrid_rrf_topk,
        S4.pca_top_component,
        G4.degree_assortativity,
        T4.asof_tolerance_join,
        D4.fellegi_sunter_linkage,
        D4.entity_resolution,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_bpe_pair_counts_topk_is_take_ordered(spark):
    """VERDICT r4 #6: the BPE merge-candidate cut must be per-partition
    heaps (TakeOrderedAndProject), never a full-vocabulary rank window in
    one partition."""
    from cdc_streamming___v2_spark.operators import text_analysis as TA

    p = _plan(spark, TA.bpe_pair_counts(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p


def test_ngram_jaccard_shuffles_hashed_shingle_keys(spark):
    """VERDICT r4 #5: the shingle self-join must key on 64-bit md5 longs,
    not raw shingle strings — the join/sort columns carry 8-byte keys.

    Since the r11 lineage cut, the md5 hashing lives inside the
    materialized (localCheckpointed) shingle frame, so the final plan
    starts at an ExistingRDD scan: assert the md5 lowering on the
    OPERATOR-OWNED pre-cut frame (dedup._hashed_shingles — the exact
    frame ngram_jaccard_pairs materializes, so dropping md5_hash_long
    from the operator fails here; ADVICE r11), and that the pair join
    in the final plan keys on the LONG shingle column (attribute ids
    carry the L type suffix)."""
    import re

    from cdc_streamming___v2_spark.operators import dedup as D

    p_pre = _plan(spark, D._hashed_shingles(spark, SF_SMALL))
    # conv(substring(md5(...))) is the md5_hash_long lowering
    assert "md5" in p_pre and "conv" in p_pre
    p = _plan(spark, D.ngram_jaccard_pairs(spark, SF_SMALL))
    assert "Scan ExistingRDD" in p  # the materialized shingle frame
    # the self-join keys on the long shingle attribute (L type suffix),
    # rendered either as key lists or as an equality condition
    assert re.search(r"keys \[1\]: \[s#\d+L\]|s#\d+L = s#\d+L", p), p[:2000]


def test_round5_ops_never_plan_cartesian(spark):
    """Blanket physical audit for the round-5 additions: everything must
    plan equi-joins/broadcasts — the only sanctioned non-equi plan is
    knn's 5-row broadcast NLJ (covered in test_ml_ops)."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import cdc_batch as C5
    from cdc_streamming___v2_spark.operators import corpus_ops as CO5
    from cdc_streamming___v2_spark.operators import graph as G5
    from cdc_streamming___v2_spark.operators import maintenance as M5
    from cdc_streamming___v2_spark.operators import pipeline_ops as P5
    from cdc_streamming___v2_spark.operators import temporal as T5
    from cdc_streamming___v2_spark.operators import text_analysis as TA5

    for fn in (
        C5.debezium_envelope_roundtrip,
        C5.cdc_schema_drift_report,
        G5.clustering_coefficient,
        G5.adamic_adar_linkpred,
        G5.lpa_communities,
        G5.bellman_ford_cheapest,
        CO5.word_pmi_pairs,
        CO5.tokenizer_vocab_coverage,
        TA5.bpe_merge_rounds,
        A5.l_diversity,
        A5.dp_noisy_counts,
        A5.lttb_downsample,
        A5.geo_grid_join,
        A5.welch_t_test,
        A5.twap_user_value,
        A5.inventory_clamped_balance,
        A5.skew_diagnostics,
        A5.ols_two_feature,
        A5.weighted_median_price,
        T5.interval_overlap_join,
        M5.incremental_join_maintain,
        P5.golden_record,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_round5_wave34_ops_never_plan_cartesian(spark):
    """Blanket plan audit for the round-5 wave-3/4 operators: none may
    contain a CartesianProduct node; the shingle/fingerprint pair joins
    must be hash or sort-merge equi-joins (an all-pairs product there is
    O(N^2) at corpus scale). 1-row scalar broadcasts (PSI min/max frame)
    plan as BNLJ and are excluded, as in the earlier blanket audits."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import corpus_ops as C5
    from cdc_streamming___v2_spark.operators import dedup as D5
    from cdc_streamming___v2_spark.operators import graph as G5
    from cdc_streamming___v2_spark.operators import ml_eval as ME5
    from cdc_streamming___v2_spark.operators import ml_ops as ML5
    from cdc_streamming___v2_spark.operators import temporal as TP5
    from cdc_streamming___v2_spark.operators import text_analysis as TA5

    for fn in (
        ME5.classifier_eval_langid,
        ME5.auc_roc_quality,
        ME5.calibration_bins,
        ME5.psi_drift,
        G5.k_core_peel,
        TP5.interval_coalesce_islands,
        A5.max_drawdown_user,
        A5.stl_lite_decompose,
        A5.hhi_concentration,
        A5.fd_violations,
        A5.spearman_daily,
        D5.containment_near_dup,
        D5.winnowing_pairs,
        ML5.nearest_centroid_classify,
        TA5.quality_ensemble_vote,
        C5.compaction_bin_packing,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_pair_join_ops_use_equi_joins(spark):
    """containment/winnowing candidate generation must join on the shingle
    or fingerprint KEY (hash/sort-merge), exactly like the jaccard tier."""
    from cdc_streamming___v2_spark.operators import dedup as D5

    for fn in (D5.containment_near_dup, D5.winnowing_pairs):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__
        assert "BroadcastHashJoin" in p or "SortMergeJoin" in p, fn.__name__


def test_round5_restart_ops_never_plan_cartesian(spark):
    """Blanket plan audit for the restarted-round-5 waves: none of the
    fact-frame operators may contain a CartesianProduct node (bounded
    scalar/dimension crossJoins plan as BroadcastNestedLoopJoin and are
    the accepted pattern)."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import behavior as B5
    from cdc_streamming___v2_spark.operators import corpus_ops as C5
    from cdc_streamming___v2_spark.operators import ml_eval as ME5
    from cdc_streamming___v2_spark.operators import sketches as K5
    from cdc_streamming___v2_spark.operators import stats_ext as SX5
    from cdc_streamming___v2_spark.operators import timeseries_ext as TS5

    for fn in (
        SX5.mann_whitney_u,
        SX5.kruskal_wallis,
        SX5.log_rank_test,
        SX5.t_closeness,
        SX5.js_divergence_sources,
        ME5.average_precision_quality,
        ME5.cohens_kappa_langid,
        ME5.mcnemar_quality_filters,
        ME5.isotonic_calibration,
        TS5.ohlc_bars,
        TS5.sax_symbols,
        TS5.seasonal_naive_mase,
        K5.ams_f2_sketch,
        A5.rapid_repeat_purchases,
        A5.market_beta_types,
        A5.srm_check,
        C5.heaps_law_fit,
        B5.item_cf_topk,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_item_cf_pair_join_is_order_keyed(spark):
    """The CF pair space must be generated by the order-keyed self-join
    (SortMerge/ShuffledHash on l_orderkey), with the per-part counts
    broadcast — never a part x part product."""
    from cdc_streamming___v2_spark.operators import behavior as B5

    p = _plan(spark, B5.item_cf_topk(spark, SF_SMALL))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_round5_session3_ops_never_plan_cartesian(spark):
    """Blanket plan audit for the third round-5 session's waves: no
    CartesianProduct in any fact-frame operator (1-row scalar broadcasts
    plan as BroadcastNestedLoopJoin and are the accepted pattern)."""
    from cdc_streamming___v2_spark.operators import causal as CZ

    for fn in (
        CZ.did_estimate,
        CZ.iv_wald_estimate,
        CZ.rdd_estimate,
        CZ.psm_caliper_att,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_psm_candidate_join_is_bucket_equi_join(spark):
    """PSM matching must probe controls through the caliper-bucket
    EQUI-join (hash/sort-merge on the bucket key) — never a treated x
    control nested-loop product."""
    from cdc_streamming___v2_spark.operators import causal as CZ

    p = _plan(spark, CZ.psm_caliper_att(spark, SF_SMALL))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_model_validation_ops_never_plan_cartesian(spark):
    """kfold/conformal/recsys: no CartesianProduct (recsys' 1-row catalog
    scalar broadcast plans as BNLJ and is the accepted pattern)."""
    from cdc_streamming___v2_spark.operators import ml_eval as ME

    for fn in (ME.kfold_cv_rmse, ME.conformal_interval_coverage, ME.recsys_eval_cf):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_sequence_risk_ops_never_plan_cartesian(spark):
    """Sequence/risk/operations waves: no CartesianProduct anywhere."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import behavior as B5

    for fn in (
        B5.sequential_patterns,
        B5.transition_entropy_rate,
        A5.woe_iv_binning,
        A5.control_chart_days,
        A5.littles_law_audit,
        A5.newsvendor_stock_level,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_sequential_patterns_is_top_k_shape(spark):
    """The trigram top-N must plan as TakeOrderedAndProject, not a global
    sort of the (vocabulary-bounded) pattern frame."""
    from cdc_streamming___v2_spark.operators import behavior as B5

    p = _plan(spark, B5.sequential_patterns(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p


def test_robust_fit_wave_never_plans_cartesian(spark):
    """psm_strata_ate / ransac / power / page-hinkley: no CartesianProduct
    (the 1-row bounds and the 32-row candidate broadcasts plan as BNLJ and
    are the accepted pattern)."""
    from cdc_streamming___v2_spark.operators import causal as CZ
    from cdc_streamming___v2_spark.operators import ml_ops as ML
    from cdc_streamming___v2_spark.operators import stats_ext as SX

    for fn in (
        CZ.psm_strata_ate,
        ML.ransac_spend_fit,
        SX.ab_power_analysis,
        SX.page_hinkley_drift,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_modularity_allocation_bandit_never_plan_cartesian(spark):
    from cdc_streamming___v2_spark.operators import behavior as B5
    from cdc_streamming___v2_spark.operators import graph as G5
    from cdc_streamming___v2_spark.operators import pipeline_ops as P5

    for fn in (
        G5.community_modularity,
        P5.neyman_allocation,
        B5.bandit_replay_greedy,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_logistic_newton_grid_bounded_plan(spark):
    """The Newton chain must join the 1-row state via broadcast (BNLJ on a
    scalar frame is the accepted pattern) and never a CartesianProduct."""
    from cdc_streamming___v2_spark.operators import ml_ops as ML

    p = _plan(spark, ML.logistic_newton_fit(spark, SF_SMALL))
    assert "CartesianProduct" not in p


def test_adaboost_never_plans_cartesian(spark):
    from cdc_streamming___v2_spark.operators import ml_ops as ML

    p = _plan(spark, ML.adaboost_stumps(spark, SF_SMALL))
    assert "CartesianProduct" not in p


def test_cox_shapley_never_plan_cartesian(spark):
    from cdc_streamming___v2_spark.operators import behavior as B5
    from cdc_streamming___v2_spark.operators import stats_ext as SX

    for fn in (SX.cox_ph_fit, B5.shapley_attribution):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_experimentation_wave_never_plans_cartesian(spark):
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (
        A5.cuped_variance_reduction,
        A5.qini_uplift_curve,
        A5.sprt_replay,
        A5.poisson_rate_model,
    ):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_resampling_wave_never_plans_cartesian(spark):
    from cdc_streamming___v2_spark.operators import ml_ops as ML
    from cdc_streamming___v2_spark.operators import stats_ext as SX

    for fn in (SX.jackknife_ci, SX.james_stein_shrinkage, ML.poisson_mixture_em):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_reporting_closers_never_plan_cartesian(spark):
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.revenue_waterfall, A5.boxplot_stats, A5.weekday_seasonal_index):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_inequality_wave_never_plans_cartesian(spark):
    """Wave AA (fourth round-5 session): Lorenz/Theil/Atkinson must plan
    equi-joins + broadcasts only; the lorenz n-total is a 1-row scalar
    broadcast (BNLJ accepted, as in the earlier blanket audits)."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.lorenz_deciles, A5.theil_inequality, A5.atkinson_index):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_bridge_assoc_wave_never_plans_cartesian(spark):
    """Wave AB (fifth round-5 session): bridge/Kendall/xcorr must plan
    equi-joins + broadcasts only; the 7-row lag frame is a scalar-class
    broadcast (BNLJ accepted, as in the earlier blanket audits)."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.price_volume_bridge, A5.kendall_tau_pairs, A5.xcorr_leadlag):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_technical_wave_plans_single_scan_no_join(spark):
    """Wave AC: the indicator queries reduce orders to the calendar-bounded
    daily frame once; no join (so no cartesian) may appear, and exactly one
    parquet scan of orders."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.bollinger_band_breaks, A5.sma_crossover_days, A5.cutler_rsi):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__
        # formatted explain lists each node twice (tree + detail)
        assert p.count("Scan parquet") <= 2, fn.__name__


def test_ar_granger_wave_single_bounded_window(spark):
    """Wave AD: both fits reduce to calendar-bounded daily frames before any
    window; no cartesian anywhere."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.ar2_forecast, A5.granger_leadlag):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_regression_diag_wave_never_plans_cartesian(spark):
    """Wave AE: ridge/pacf/negbin/DW — broadcast-only joins (the DW fit
    frame is a 1-row scalar broadcast; BNLJ accepted)."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.ridge_two_feature, A5.pacf_daily_revenue,
               A5.negbin_overdispersion, A5.durbin_watson_trend):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_ops_finance_wave_never_plans_cartesian(spark):
    """Wave AF: EOQ/CAGR broadcast the part dim; the calibration audit
    pairs via the band-bucket equi-join (never all-pairs)."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import dedup as D5

    for fn in (A5.eoq_reorder_policy, A5.cagr_brand_revenue,
               D5.minhash_estimator_calibration):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_textrank_perm_wave_plan_shapes(spark):
    """Wave AG: textrank rounds are vocab-bounded aggregate joins (no
    cartesian); the permutation test is ONE aggregate pass (no join at
    all before the B-row stack)."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import corpus_ops as CO5

    p = _plan(spark, CO5.textrank_keywords(spark, SF_SMALL))
    assert "CartesianProduct" not in p
    p = _plan(spark, A5.permutation_test_lift(spark, SF_SMALL))
    assert "CartesianProduct" not in p
    assert "Join" not in p  # single-pass: no join of any kind


def test_distribution_fit_wave_never_plans_cartesian(spark):
    """Wave AH: weibull/beta/price-index — grid windows + broadcast dims,
    partkey-keyed year self-join; no cartesian."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import stats_ext as SE5

    for fn in (SE5.weibull_gap_fit, SE5.beta_fit_discount,
               A5.price_index_fisher):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_theil_decomposition_single_customer_reduce(spark):
    from cdc_streamming___v2_spark.operators import analytics as A5

    p = _plan(spark, A5.theil_decomposition(spark, SF_SMALL))
    assert "CartesianProduct" not in p


def test_distance_wave_pair_grid_no_cartesian(spark):
    """Wave AJ: the pair frame is a broadcast 10-row membership explode;
    no corpus-sized cartesian may appear."""
    from cdc_streamming___v2_spark.operators import stats_ext as SE5

    for fn in (SE5.energy_distance_pairs, SE5.cramer_von_mises_pairs):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_dominance_peaks_aging_wave_plans(spark):
    """Wave AL: dominance reuses the pair grid; peaks run on the bounded
    daily frame; aging pushes status+date predicates to the scan."""
    from cdc_streamming___v2_spark.operators import analytics as A5
    from cdc_streamming___v2_spark.operators import stats_ext as SE5

    for fn in (SE5.stochastic_dominance_pairs, A5.revenue_peaks,
               A5.receivables_aging):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__
    p = _plan(spark, A5.receivables_aging(spark, SF_SMALL))
    assert "EqualTo(l_linestatus,O)" in p  # predicate reached the scan


def test_streak_migration_wave_no_global_sort_rank(spark):
    """Wave AN: the migration tiers must use the bucket-decomposed rank
    (no cartesian; the 1-row n-total is a scalar broadcast)."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.best_revenue_run, A5.segment_migration_matrix):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__


def test_forensic_wave_banded_never_cartesian(spark):
    """Wave AO: the near-duplicate pairing must be the banded equi-join
    (never a per-customer cross product); the split screen has no join."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.price_ending_profile, A5.duplicate_payment_screen,
               A5.split_purchase_screen):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__
    p = _plan(spark, A5.duplicate_payment_screen(spark, SF_SMALL))
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p


def test_supply_chain_wave_plans(spark):
    """Wave AP: enrichment/HHI/lag — broadcast dims, bounded-grid windows,
    TakeOrderedAndProject for the risk top-k."""
    from cdc_streamming___v2_spark.operators import analytics as A5

    for fn in (A5.return_enrichment_by_brand, A5.supply_risk_hhi,
               A5.ship_lag_percentiles):
        p = _plan(spark, fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, fn.__name__
    p = _plan(spark, A5.supply_risk_hhi(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p


def test_replay_routing_is_narrow_single_exchange(spark, tmp_path):
    """The dead-letter replay routes rows through _route_table exactly
    like live ingest: the per-table write plan must be NARROW — one
    Exchange (the partition co-location repartition), no join, no
    aggregate — so replay throughput scales linearly with quarantine
    size at any cluster width.  Commit-log sinks carry the partition day
    as a plain column, so their route plan has no Exchange at all."""
    import dataclasses
    import os

    from cdc_streamming___v2_spark.sources.registry import SchemaRegistry
    from cdc_streamming___v2_spark.streaming.ingest import CdcIngest
    from .test_cdc_ingest import REGISTRY_DOC, LINES

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "b.jsonl"), "w") as f:
        f.write("\n".join(LINES) + "\n")
    ing = CdcIngest(
        spark=spark,
        registry=SchemaRegistry.from_dict(
            {"olist_produtos": REGISTRY_DOC["olist_produtos"]}
        ),
        input_dir=in_dir,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    ing.run_available_single_pass()  # users rows quarantine

    dl = ing.dead_letter()
    env = CdcIngest._parse_lines(
        dl.selectExpr("raw as value"), "datastream"
    )
    spec = SchemaRegistry.from_dict(REGISTRY_DOC).get("olist_users")
    routed = ing._route_table(env, spec)
    p = _plan(spark, routed)
    assert "Join" not in p and "Aggregate" not in p
    # exactly the co-location repartition, nothing else wide
    assert "Exchange" in p
    assert p.count("Exchange") <= 2  # formatted lists tree + detail
    p_log = _plan(
        spark,
        dataclasses.replace(ing, commit_log=True)._route_table(env, spec),
    )
    assert "Join" not in p_log and "Aggregate" not in p_log
    assert "Exchange" not in p_log


def test_route_table_parses_payload_once(spark, tmp_path):
    """However wide the table, a routed row's payload is decoded by ONE
    from_json: projecting each field off a from_json column lets
    Catalyst split the decode into one full parse per field."""
    from cdc_streamming___v2_spark.sources.registry import SchemaRegistry
    from cdc_streamming___v2_spark.streaming.ingest import CdcIngest

    fields = [{"name": f"c{i}", "type": "STRING"} for i in range(5)]
    fields += [
        {"name": "qty", "type": "INT64", "renamed_from": "quantity"},
        {"name": "action", "type": "STRING"},
        {"name": "update_date", "type": "TIMESTAMP"},
    ]
    reg = SchemaRegistry.from_dict(
        {"wide": {"table_name": "wide_cdc", "schema": {"fields": fields}}}
    )
    spec = reg.get("wide")
    assert len(spec.payload_schema) >= 6 and spec.renames
    env = CdcIngest._parse_lines(
        spark.createDataFrame([], "value string"), "datastream"
    )
    for commit_log in (False, True):
        ing = CdcIngest(
            spark=spark,
            registry=reg,
            input_dir=str(tmp_path / "in"),
            output_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ck"),
            commit_log=commit_log,
        )
        routed = ing._route_table(env, spec)
        plan = routed._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 1, plan
