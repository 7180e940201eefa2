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

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from typing import Literal

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """``runs_at_build``: what ``build()`` runs before returning a plan —
    "none" (no Spark job once table footers are cached; checked per
    spec by tests/test_e2e_chain.py), "jobs" (collects, driver loops,
    artifact load-or-fit, staged writes) or "stream" (a drain)."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None → rows-only check
    doc: str = ""
    runs_at_build: Literal["none", "jobs", "stream"] = "none"


# The driver's correctness gate records only the FIRST 50 registry
# entries (insertion order), so ordering is part of the contract.
# ROTATION: the head holds every caller of the connected-components
# and bucketed-merge operators (q56, q59, q65, q100, q103, q149, q172,
# q196, q201), every builder writing session scratch dirs (q65, q74,
# q134, q135, q141, q144, q151, q190, q200-q204), the near-dup LSH
# and shingle-base callers (q17, q18, q41, q170, q171, q189, q199),
# q63, q123 and q140, the vector-quantizer and cosine-search callers
# (q20, q31, q67, q76, q77, q81, q82, q141, q153, q184, q202),
# q11 (calls drop_test_rows), q58 (cross_corpus_containment), the
# shared HLL estimator's q136, q21 and q38 (md5 SimHash and
# token-sequence fingerprint), q155, q175 and q181 (the IRLS and ridge
# fits, fanned out at their read), plus the rest of the previous
# head. Each group below is a driver record of its queries, taken while
# they were in the head; tail entries still run everywhere else
# (pytest, bench, check_correctness).
_DEPRIORITIZED = (
    # --- rotated out for q175, q181 ---
    "q19_knn_cosine",
    "q131_hll_portable",
    # --- rotated out for q21, q38 ---
    "q152_repeated_spans",
    "q162_tfidf_cosine",
    # --- rotated out for q11, q58, q131, q136 ---
    "q159_inverted_index",
    "q161_warc_roundtrip",
    "q165_stream_enrich",
    "q167_kmv_jaccard",
    # --- rotated out for q19, q20, q31, q67, q76, q77, q81, q82, q184 ---
    "q156_unicode_nfc",
    "q158_pmi_cooc",
    "q163_bm25",
    "q168_audio_stats",
    "q173_crossdoc_dedup",
    "q174_pii_redact",
    "q176_embed_standardize",
    "q177_winnowing",
    # --- rotated out for q17, q189, q199 ---
    "q160_zipf_fit",
    "q164_distinct_n",
    "q166_kmv_distinct",
    # --- rotated out for q123, q134, q135, q144 ---
    "q178_dsir_weights",
    "q179_js_drift",
    "q180_quantile_sketch",
    # --- rotated out for q18, q41, q63 ---
    "q182_stream_quantiles",
    "q183_stream_decontaminate",
    # --- rotated out for the operator callers and scratch-dir builders above ---
    "q137_jpeg_probe",
    "q146_html_extract",
    "q147_domain_cap",
    "q148_gopher_rules",
    "q150_variant_shred",
    "q94_priority_argmax",
    "q96_bitmap_distinct",
    "q145_copurchase_pagerank",
    "q143_compressed_text",
    "q142_gif_probe",
    # --- the q185-q191 block less q189 and q190 ---
    "q185_curation_funnel",
    "q186_vocab_coverage",
    "q187_interpolate",
    "q188_source_scorecard",
    "q191_image_dhash_dedup",
    # --- the q01-q52-era head ---
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
    "q22_multimodal_meta",
    "q23_json_props",
    "q24_fingerprint_dedup",
    "q25_embedding_neardup",
    "q26_trend_rollup",
    "q27_surrogate_keys",
    "q28_asof_attribution",
    "q29_stream_hourly",
    "q30_frame_sample",
    "q32_threshold_severity",
    "q33_top_customers_per_nation",
    "q34_sessionize",
    "q35_stream_sessions",
    "q36_top_locations_approx",
    "q37_calendar_join",
    "q39_range_clicks",
    "q40_simhash_portable",
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
    # --- the q101-q117, q192-q199 and q53-q84 head ---
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
    "q53_stream_dedupe",
    "q54_stream_keep_latest",
    "q55_salted_distinct",
    "q60_token_shards",
    "q61_chunk_docs",
    "q62_mixture_sample",
    "q64_embed_quantize",
    "q66_tfidf",
    "q68_scd2",
    "q69_stream_sliding",
    "q70_weighted_sample",
    "q71_name_editdist",
    "q72_snapshot_diff",
    "q75_hashing_vectors",
    "q78_perplexity",
    "q79_trailing_features",
    "q80_split_drift",
    "q83_salted_enrich",
    "q84_anomaly_days",
    # --- the q07-q11, q57, q73, q76, q77 and q85-q139 head ---
    "q07_loyalty_impact",
    "q08_top_locations",
    "q09_discount_effect",
    "q10_quality_gate",
    "q102_price_histogram",
    "q105_transition_matrix",
    "q118_linear_attribution",
    "q119_budget_curation",
    "q120_histogram_quantiles",
    "q121_unpivot",
    "q122_percentile_rank",
    "q124_cohort_ltv",
    "q125_share_shift",
    "q126_passage_dedupe",
    "q127_bloom_prefilter",
    "q128_countmin",
    "q129_table_digest",
    "q130_generated_rollup",
    "q132_png_probe",
    "q133_bpe_encode",
    "q138_sequence_pack",
    "q139_greedy_pack",
    "q57_portable_split",
    "q73_incremental_agg",
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


_SCRATCH_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_scratch")
_SCRATCH_CLEANUP: set[str] = set()


def scratch_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Path of a query builder's on-disk artifact ``tag``, private to
    (dataset, Spark application): concurrent sessions, and sessions on
    other datasets, never share a path, while repeat builds in one
    session reuse it. The path is neither created nor cleared; a
    builder that needs a fresh dir clears it. The session's whole
    scratch tree is removed at interpreter exit."""
    key = hashlib.md5(
        (os.path.abspath(sf_dir) + "\x1f"
         + spark.sparkContext.applicationId).encode()).hexdigest()[:12]
    root = os.path.join(_SCRATCH_ROOT, key)
    if root not in _SCRATCH_CLEANUP:
        _SCRATCH_CLEANUP.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, tag)


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
