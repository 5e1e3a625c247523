"""Partitioning-invariance: the 100 TB determinism claim, tested.

Every float-bearing operator in this engine claims its results are
independent of physical data layout (strict ordered folds, exact
integer/decimal arithmetic, order statistics, or pre-quantized
order-independent aggregates). On a 1000-executor cluster the ONLY
thing that changes vs local[32] is partitioning and row order — so
re-running a key under a different shuffle.partitions setting and a
shuffled input layout must produce the IDENTICAL result set, bit for
bit. This suite pins that for a representative slice of the most
float-sensitive keys (iterative folds, cosine kernels, CUSUM/Holt
recurrences, cross-entropy folds, variance folds).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as ent
from tests.conftest import SF_SMALL

# The keys whose docstrings make the strongest determinism claims —
# strict folds, quantize-then-aggregate, exact closed forms.
FLOAT_SENSITIVE = [
    "ts_holt",
    "ts_cusum",
    "ts_seasonal_strength",
    "llm_sim_topk",
    "vec_matryoshka",
    "vec_quantize_int8",
    "llm_eval_xent",
    "stats_spearman",
    "stats_ks_test",
    "stats_mannwhitney",
    "win_ewma",
    "llm_kmeans",
    "events_ab_test",
    "fn_geo",
    "llm_semantic_outliers",
    "llm_dedup_embedding",
    "llm_semdedup",
    "llm_bm25",
    "vec_pca_power",
    "stats_ttest_welch",
    "stats_levene",
    "graph_pagerank",
    "ts_holt_winters",
    "ts_clamped_cumsum",
    "ts_croston",
    "stats_fdr_bh",
    "stats_trimmed_mean",
    "join_geo_grid",
    "stats_qq_compare",
    "mix_weighted_sample",
    "llm_collocations_llr",
    "feat_infogain",
    "stats_simpsons",
    "ts_ewma_irregular",
    "events_token_bucket",
    "events_alarm_hysteresis",
    "vec_knn_reciprocity",
    "ts_periodogram",
    "llm_entropy_rate",
    "stats_cluster_se",
    "stats_logrank",
    "vec_product_quantization",
    "ts_rsi",
    "ts_spectral_entropy",
    "stats_kruskal_wallis",
    "stats_wilcoxon_signed_rank",
    "ts_matrix_profile",
    "ts_cointegration_lite",
    "ts_theta_method",
    "stats_meta_analysis",
    "ts_holt_damped",
    "rank_ndcg",
    "rank_map_mrr",
    "rank_rbo",
    "dp_noisy_counts",
    "dp_quantile_release",
    "sketch_ams_f2",
    "sketch_kmv_distinct",
    "sketch_kmv_jaccard",
    "llm_dedup_jaccard_ppjoin",
    "mm_byte_histogram_neardup",
]


def _canon(df):
    """Order-insensitive canonical form of a result set."""
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("key", FLOAT_SENSITIVE)
def test_result_invariant_under_repartitioning(spark, key):
    q = ent.queries()[key]
    base = _canon(q(spark, SF_SMALL))
    # change BOTH the shuffle fan-out and (via AQE-coalesce off) the
    # post-shuffle layout; 7 is coprime to 32 so every hash partition
    # boundary moves
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    alt = _canon(q(spark, SF_SMALL))
    assert alt == base, f"{key}: result depends on partitioning"


def test_timezone_reset_between_queries_is_harmless(spark):
    """A harness that flips the session timezone between queries must
    not change timestamp semantics: prep() re-pins UTC on every call."""
    import __spark_entry__ as e

    q = e.queries()["stream_tumbling"]
    base = _canon(q(spark, SF_SMALL))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    alt = _canon(q(spark, SF_SMALL))
    assert alt == base
