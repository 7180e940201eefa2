"""Partitioning-determinism: the float-bearing queries must produce
bit-identical values no matter how the data was partitioned — that is
the property (exact decimal sums, rounded percentiles, micro-precision
datetime math) that makes cross-engine hash comparison meaningful, and
it must survive repartitioning, not just one lucky layout."""

import pytest

from elt_gluepipeline_spark.plans import registry

SF = "/root/testdata/sf0.001"

FLOAT_HEAVY = ["q02_clv", "q03_clv_tiered", "q07_loyalty_impact",
               "q09_discount_effect", "q32_threshold_severity",
               # co-moment merges (corr/covar/regr_*) are the one agg
               # family where merge ORDER touches low-order float bits;
               # the rounded output must still be partition-stable
               "q101_price_qty_regression",
               # robust-z (median+MAD) and distribution windows mix
               # percentiles with float division; partition-stability
               # is the property the oracle hash rides on
               "q84_anomaly_days", "q99_spend_percentiles",
               # total-order window sort: per-row prefixes must not
               # depend on tie order among duplicate keys
               "q113_stock_balance",
               # fixed-point credit sums, window share ratios,
               # histogram interpolation, lift divisions — each must
               # survive re-partitioning
               "q118_linear_attribution", "q120_histogram_quantiles",
               "q123_basket_affinity", "q125_share_shift",
               "q124_cohort_ltv",
               # Cramer-solve regressions, log-space PMI,
               # idf-weighted dots, BM25 term sums, entropy sums,
               # within-cell cosines — all built on decimal-exact
               # partial sums, pinned here
               "q153_semdedup", "q155_ridge_fit", "q158_pmi_cooc",
               "q160_zipf_fit", "q162_tfidf_cosine", "q163_bm25",
               "q164_distinct_n"]


def _fingerprint(df) -> list[str]:
    cols = sorted(df.columns)
    return sorted("|".join(repr(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", FLOAT_HEAVY)
def test_identical_results_across_partitionings(spark, name):
    spec = registry()[name]
    base = _fingerprint(spec.build(spark, SF))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        again = _fingerprint(spec.build(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == again
