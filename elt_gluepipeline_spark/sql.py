"""SQL front-door (SURVEY.md §7.1 engine/sql.py): register the
testdata tables and every declared query as temp views, so the whole
engine surface is addressable from ``spark.sql`` — the literal-SQL
twin the oracle gate exercises in DuckDB, available in-engine too.

Most views are lazy logical plans: registering them costs plan
construction only, and nothing executes until a view is selected
from. Two classes of query EXECUTE work at build time and are
therefore opt-in:

- streaming drains (STREAMING_QUERIES) run their bounded
  AvailableNow/foreachBatch drain when built;
- driver-loop/collect builds (EAGER_QUERIES: q25 auto-sizes blocks
  with a count, q31/q67 collect centroids, q56/q59 collect their
  candidate edges into a union-find, q60 collects per-partition
  offsets) run real Spark jobs when built.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .plans import registry
from .sources.readers import load_tables

# queries whose build() runs a bounded streaming drain eagerly
STREAMING_QUERIES = frozenset({
    "q29_stream_hourly", "q35_stream_sessions", "q48_stream_attribution",
    "q50_stream_enrich", "q53_stream_dedupe", "q54_stream_keep_latest",
    "q65_stream_upsert", "q69_stream_sliding", "q74_stream_incremental_agg",
    "q106_stream_session_window", "q110_stream_attribution_outer",
    "q117_stream_append_rollup", "q136_stream_hll",
    "q165_stream_enrich", "q182_stream_quantiles",
    "q183_stream_decontaminate",
    "q190_stream_chain",                       # foreachBatch chain drain
})

# queries whose build() runs batch jobs eagerly (collects / iterative
# driver loops / artifact load-or-fit) — registering them is running them
EAGER_QUERIES = frozenset({
    "q25_embedding_neardup", "q31_ivf_ann", "q56_neardup_groups",
    "q59_dedupe_corpus", "q60_token_shards", "q67_kmeans",
    "q76_product_quantize", "q77_pq_adc", "q81_ivf_pq", "q82_rerank",
    "q100_incremental_dedupe", "q103_corpus_pipeline",
    "q133_bpe_encode",                         # BPE fit driver loop
    "q134_json_roundtrip", "q135_orc_roundtrip",  # stage-write at build
    "q141_index_append",                       # index write at build
    "q144_shard_writer",                       # shard write at build
    "q145_copurchase_pagerank",                # rank-vector collects per iter
    "q149_component_split",                    # component driver loop
    "q151_xml_roundtrip",                      # stage-write at build
    "q153_semdedup",                           # k-means artifact load-or-fit
    "q154_rawfile_ingest",                     # file-per-doc stage at build
    "q172_keep_best",                          # component driver loop
    "q192_neardup_anchored",                   # anchor count at build
    "q195_bucketed_join",                      # bucketed-table write at build
    "q196_star_components",                    # star-contraction rounds
    "q199_incremental_lsh",                    # partition probes at build
    "q200_lsh_index_serve",                    # index write at build
    "q201_bucketed_upsert",                    # snapshot merges at build
    "q202_index_delete",                       # index + tombstone writes
    "q203_lsh_index_delete",                   # index + tombstone writes
    "q204_lsh_pruned_serve",                   # index write at build
})


def register_all(spark: SparkSession, sf_dir: str, *,
                 include_streaming: bool = False,
                 include_eager: bool = False) -> list[str]:
    """Register base tables + declared queries as temp views; returns
    the registered view names. After this, ``spark.sql("SELECT * FROM
    q02_clv")`` (or any composition over it) runs the engine's plan."""
    load_tables(spark, sf_dir)  # base tables as views
    names: list[str] = []
    for name, spec in registry().items():
        if name in STREAMING_QUERIES and not include_streaming:
            continue
        if name in EAGER_QUERIES and not include_eager:
            continue
        spec.build(spark, sf_dir).createOrReplaceTempView(name)
        names.append(name)
    return names
