"""Declared queries (SURVEY.md §2.10 Q1-Q12 re-expressed over the
driver's TPC-H-ish testdata, plus the training-data extension queries).

Each query is a QuerySpec: a Spark builder ``(spark, sf_dir) ->
DataFrame`` and, where SQL-expressible, a DuckDB oracle SQL string
computing the same result (same column NAMES and value semantics —
the correctness gate hash-compares them). Specs live next to their
oracles so they can't drift apart.

Domain mapping (restaurant reference → TPC-H testdata):
  order_items fact   → lineitem (line-item grain)
  order header       → orders   (customer, date, total)
  restaurant/location→ supplier / nation (via customer)
  item catalog       → part
  change feed        → events (ts-ordered, keyed by user/event_type)
  corpus / vectors   → documents / embeddings (extension ops)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None → rows-only check
    doc: str = ""


# The driver's correctness gate records only the FIRST 50 registry
# entries (insertion order), so ordering is part of the contract.
# ROTATION: the head holds every caller of the connected-components
# and bucketed-merge operators (q56, q59, q100, q103, q149, q172, q196,
# q201) plus 42 queries of the previous head. Every tail query below
# has a driver row from the round noted in its group header. Tail
# entries still run everywhere else (pytest, bench,
# tools/check_correctness).
_DEPRIORITIZED = (
    # --- latest driver record: round 12 (6 queries rotated out for the operator callers above) ---
    "q94_priority_argmax",
    "q96_bitmap_distinct",
    "q145_copurchase_pagerank",
    "q144_shard_writer",
    "q143_compressed_text",
    "q142_gif_probe",
    # --- latest driver record: round 7 (7 queries; the alphabetically-last 7 of the r7 block — the first 43 are in the r11 head) ---
    "q185_curation_funnel",
    "q186_vocab_coverage",
    "q187_interpolate",
    "q188_source_scorecard",
    "q189_lsh_recall_sampled",
    "q190_stream_chain",
    "q191_image_dhash_dedup",
    # --- latest driver record: round 8 (50 queries, the q01-q52-era head) ---
    "q01_line_revenue",
    "q02_clv",
    "q03_clv_tiered",
    "q04_rfm_segments",
    "q05_customer_profile",
    "q06_trend_daily",
    "q06_trend_hourly",
    "q06_trend_monthly",
    "q06_trend_weekly",
    "q12_incr_dedupe",
    "q13_dedup_exact",
    "q14_text_stats",
    "q15_lang_id",
    "q16_iqr_outliers",
    "q17_minhash_neardup",
    "q18_ngram_jaccard",
    "q19_knn_cosine",
    "q20_lsh_ann",
    "q21_simhash",
    "q22_multimodal_meta",
    "q23_json_props",
    "q24_fingerprint_dedup",
    "q25_embedding_neardup",
    "q26_trend_rollup",
    "q27_surrogate_keys",
    "q28_asof_attribution",
    "q29_stream_hourly",
    "q30_frame_sample",
    "q31_ivf_ann",
    "q32_threshold_severity",
    "q33_top_customers_per_nation",
    "q34_sessionize",
    "q35_stream_sessions",
    "q36_top_locations_approx",
    "q37_calendar_join",
    "q38_rolling_fingerprint",
    "q39_range_clicks",
    "q40_simhash_portable",
    "q41_minhash_portable",
    "q42_vocab",
    "q43_spend_quintiles",
    "q44_urgent_customers",
    "q45_order_reconcile",
    "q46_repeat_customers",
    "q47_removed_lines",
    "q48_stream_attribution",
    "q49_priority_pivot",
    "q50_stream_enrich",
    "q51_order_timeline",
    "q52_status_cube",
    # --- latest driver record: round 9 (46 queries, the r9 rotation head: q192-q199 + q53-q56 + the 38 round-4-era records) ---
    "q101_price_qty_regression",
    "q104_event_cooccurrence",
    "q106_stream_session_window",
    "q107_next_click",
    "q108_scd2_lookup",
    "q109_debounce",
    "q110_stream_attribution_outer",
    "q111_grouping_sets",
    "q112_vs_prior_orders",
    "q113_stock_balance",
    "q114_activity_streaks",
    "q115_media_probe",
    "q116_repetition_linear",
    "q117_stream_append_rollup",
    "q192_neardup_anchored",
    "q193_jpeg_subsampled",
    "q194_zorder_layout",
    "q195_bucketed_join",
    "q197_script_mix",
    "q198_jpeg_progressive",
    "q199_incremental_lsh",
    "q53_stream_dedupe",
    "q54_stream_keep_latest",
    "q55_salted_distinct",
    "q58_contamination",
    "q60_token_shards",
    "q61_chunk_docs",
    "q62_mixture_sample",
    "q64_embed_quantize",
    "q65_stream_upsert",
    "q66_tfidf",
    "q67_kmeans",
    "q68_scd2",
    "q69_stream_sliding",
    "q70_weighted_sample",
    "q71_name_editdist",
    "q72_snapshot_diff",
    "q74_stream_incremental_agg",
    "q75_hashing_vectors",
    "q78_perplexity",
    "q79_trailing_features",
    "q80_split_drift",
    "q81_ivf_pq",
    "q82_rerank",
    "q83_salted_enrich",
    "q84_anomaly_days",
    # --- latest driver record: round 10 (48 queries, the r10 rotation head: q200-q202 + q85-q99 block + round-5-era records) ---
    "q07_loyalty_impact",
    "q08_top_locations",
    "q09_discount_effect",
    "q10_quality_gate",
    "q11_transform_clean",
    "q102_price_histogram",
    "q105_transition_matrix",
    "q118_linear_attribution",
    "q119_budget_curation",
    "q120_histogram_quantiles",
    "q121_unpivot",
    "q122_percentile_rank",
    "q123_basket_affinity",
    "q124_cohort_ltv",
    "q125_share_shift",
    "q126_passage_dedupe",
    "q127_bloom_prefilter",
    "q128_countmin",
    "q129_table_digest",
    "q130_generated_rollup",
    "q131_hll_portable",
    "q132_png_probe",
    "q133_bpe_encode",
    "q134_json_roundtrip",
    "q135_orc_roundtrip",
    "q136_stream_hll",
    "q138_sequence_pack",
    "q139_greedy_pack",
    "q200_lsh_index_serve",
    "q202_index_delete",
    "q57_portable_split",
    "q63_repetition",
    "q73_incremental_agg",
    "q76_product_quantize",
    "q77_pq_adc",
    "q85_funnel",
    "q86_retention",
    "q87_top_paths",
    "q88_session_window",
    "q89_median_udaf",
    "q90_fk_audit",
    "q91_gap_fill",
    "q92_measure_profile",
    "q93_peak_open_orders",
    "q95_rolling_active_users",
    "q97_table_profile",
    "q98_heavy_hitters",
    "q99_spend_percentiles",
)


def registry() -> dict[str, QuerySpec]:
    """All declared queries, reference-parity + extensions."""
    from . import reference, training

    out: dict[str, QuerySpec] = {}
    for mod in (reference, training):
        for spec in mod.SPECS:
            if spec.name in out:
                raise ValueError(f"duplicate query name {spec.name}")
            out[spec.name] = spec
    missing = [n for n in _DEPRIORITIZED if n not in out]
    if missing:
        raise ValueError(f"_DEPRIORITIZED names not in registry: {missing}")
    head = {n: s for n, s in out.items() if n not in _DEPRIORITIZED}
    if len(out) > 50 and len(head) != 50:
        raise ValueError(
            f"registry head must be exactly 50 (driver gate contract), "
            f"got {len(head)}: adjust _DEPRIORITIZED")
    tail = {n: out[n] for n in _DEPRIORITIZED}
    return {**head, **tail}
