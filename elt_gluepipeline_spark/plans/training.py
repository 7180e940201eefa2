"""Training-data pipeline queries over documents/embeddings: dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search,
text analysis, multimodal plumbing.

Oracle notes: every operator carries a DuckDB twin: md5, list
functions and integer set sizes are engine-portable, and the MinHash,
band and SimHash hashes are md5-derived (``portable_hash60``), so the
probabilistic near-dup operators are replayed bit for bit too.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (SIMHASH_BITS, blocked_jaccard_pairs,
                               exact_dedupe, minhash_lsh_pairs,
                               minhash_masks, simhash_table)
from ..functions.deterministic import dsum, dsum_sql
from ..operators.joins import asof_join, range_join
from ..operators.multimodal import (ASSET_SCHEMA, attach_payload,
                                    encode_bmp, encode_wav,
                                    extract_features, media_probe,
                                    sample_frames)
from ..operators.similarity import (_hyperplanes, cosine_neardup_pairs,
                                    ivf_ann, knn_bruteforce, lsh_ann)
from ..operators.textstats import (EN_STOPWORDS, bpe_ish_tokens,
                                   fingerprint_md5, fingerprint_tokens,
                                   langid_en_heuristic, n_tokens, tokens)
from ..sources.readers import (ntz_micros, ntz_to_instant, read_table,
                               read_table_stream, spread_if_narrow)
from . import QuerySpec, scratch_dir

_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


# --------------------------------------------------------------------------
# Q13 — exact dedup by content digest
# --------------------------------------------------------------------------

def q13_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedupe(docs, "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")))


Q13_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# Q14 — text statistics & quality scoring
# --------------------------------------------------------------------------

def q14_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-tokenization form: the raw and lowercased token arrays are
    projected ONCE, every stat derives from them, and quality derives
    from the stat COLUMNS (CollapseProject won't inline non-cheap
    duplicated expressions, so nothing re-tokenizes). Same doubles as
    composing textstats.* directly — those remain the per-column API.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    base = docs.select(
        "doc_id",
        tokens(t).alias("_tok"),
        tokens(F.lower(t)).alias("_ltok"),
        F.size(bpe_ish_tokens(t)).cast("long").alias("n_tokens_bpe"),
    )
    nt = F.size("_tok")
    uniq = F.when(nt == 0, F.lit(0.0)) \
            .otherwise(F.size(F.array_distinct("_tok")) / nt)
    n_stop = F.size(F.filter("_ltok", lambda x: x.isin(*EN_STOPWORDS)))
    stop = F.when(F.size("_ltok") == 0, F.lit(0.0)) \
            .otherwise(n_stop / F.size("_ltok"))
    stats = base.select(
        "doc_id",
        nt.cast("long").alias("n_tokens"),
        "n_tokens_bpe",
        uniq.alias("uniq_ratio"),
        stop.alias("stop_ratio"),
    )
    length_ok = F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 10_000),
                       F.lit(1.0)).otherwise(F.lit(0.0))
    return stats.select(
        "*",
        (F.lit(0.5) * F.col("uniq_ratio")
         + F.lit(0.2) * (F.lit(1.0) - F.col("stop_ratio"))
         + F.lit(0.3) * length_ok).alias("quality"))


Q14_SQL = f"""
WITH toks AS (
  -- empty-doc guard: Spark tokenization yields [] for
  -- empty/whitespace text while regexp_split_to_array('') is ['']
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltok
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(tok) AS BIGINT) AS n_tokens,
         -- Spark splits at every word/non-word boundary (Java lookarounds,
         -- so each punctuation CHAR is its own token) and drops
         -- whitespace-only tokens; the RE2-compatible twin extracts word
         -- runs + single non-word non-space chars
         CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
           AS n_tokens_bpe,
         CASE WHEN len(tok) = 0 THEN 0.0
              ELSE len(list_distinct(tok)) / len(tok) END AS uniq_ratio,
         CASE WHEN len(ltok) = 0 THEN 0.0
              ELSE len(list_filter(ltok, x -> x IN ({_STOP_SQL}))) / len(ltok)
         END AS stop_ratio
  FROM toks
)
SELECT doc_id, n_tokens, n_tokens_bpe, uniq_ratio, stop_ratio,
       0.5 * uniq_ratio + 0.2 * (1.0 - stop_ratio)
         + 0.3 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
                       THEN 1.0 ELSE 0.0 END) AS quality
FROM m
"""


# --------------------------------------------------------------------------
# Q15 — language-ID heuristic vs labeled lang
# --------------------------------------------------------------------------

def q15_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pred = langid_en_heuristic(F.col("text"))
    return (docs.withColumn("lang_pred", pred)
                .groupBy("lang", "lang_pred")
                .agg(F.count(F.lit(1)).alias("n_docs")))


Q15_SQL = f"""
WITH p AS (
  SELECT lang,
         CASE WHEN (
           CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+')) = 0 THEN 0.0
                ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                     x -> x IN ({_STOP_SQL})))
                     / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
           END) >= 0.12 THEN 'en' ELSE 'other' END AS lang_pred
  FROM documents
)
SELECT lang, lang_pred, COUNT(*) AS n_docs FROM p GROUP BY lang, lang_pred
"""


# --------------------------------------------------------------------------
# Q18 — exact blocked n-gram-Jaccard near-dup pairs
# --------------------------------------------------------------------------

def _q18_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q18 pair graph (lang × length-bucket blocks, k=3, t=0.2),
    shared by q18 and its connected-components consumers q56, q59,
    q149, q172 and q196. ``blocked_jaccard_pairs`` persists its own
    shingle base through the operator-cache registry."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    blocks = [F.col("lang"),
              F.floor(n_tokens(F.col("text")) / 10).cast("long")]
    return blocked_jaccard_pairs(docs, "doc_id", "text", blocks,
                                 k=3, threshold=0.2)


def q18_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q18_pairs(spark, sf_dir)


# Shared SCALE-CAPABLE oracle fragment for the blocked-jaccard family
# (q18/q56/q59/q100/q149/q172). The original replay was the naive
# block-local all-pairs join with a per-pair list_intersect — exact, but
# quadratic inside each (lang, len_bucket) block, and at sf1 (50k docs)
# it blew the 180 s oracle budget on every query in the family. This
# replay keeps the EXACT same output (same integer intersection/union
# sizes, hence bit-identical jaccard doubles) but derives it feasibly:
#   - AllPairs prefix filter: shingles globally ordered by (df, s);
#     a pair with jaccard >= t shares an element in both doc prefixes
#     of length n - ceil(t*n) + 1 — the q170-oracle-validated bound;
#   - candidates further restricted to the block keys the engine
#     blocks on (true pairs must share them anyway);
#   - intersection size via a CANDIDATE-RESTRICTED postings count
#     (|cand| * avg-doc-shingles work, never sum df(s)^2);
#   - jaccard = c / (n_a + n_b - c): same integers as
#     len(list_intersect) / len(list_distinct(concat)).
# ``pairs`` exposes (id_a, id_b, jaccard) for downstream CTEs.
def _jaccard_pairs_ctes(threshold: float) -> str:
    return f"""
base AS (
  SELECT doc_id, lang,
         CAST(floor(len(regexp_split_to_array(trim(text), '\\s+')) / 10) AS BIGINT)
           AS len_bucket,
         list_distinct([
           list_aggregate(tok[i:i+2], 'string_agg', ' ')
           FOR i IN range(1, greatest(len(tok) - 2, 0) + 1)
         ]) AS shingles
  FROM (SELECT doc_id, lang, text,
               regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM documents)
),
nz AS (
  SELECT doc_id, lang, len_bucket, shingles, len(shingles) AS n
  FROM base WHERE len(shingles) > 0
),
inv AS (
  SELECT doc_id, lang, len_bucket, n, unnest(shingles) AS s FROM nz
),
dfreq AS (SELECT s, COUNT(*) AS dfc FROM inv GROUP BY s),
ranked AS (
  SELECT i.doc_id, i.lang, i.len_bucket, i.n, i.s,
         ROW_NUMBER() OVER (PARTITION BY i.doc_id
                            ORDER BY d.dfc, i.s) AS rn
  FROM inv i JOIN dfreq d USING (s)
),
pfx AS (
  SELECT doc_id, lang, len_bucket, s FROM ranked
  WHERE rn <= floor((1.0 - {threshold}) * n) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pfx a JOIN pfx b
    ON a.s = b.s AND a.lang = b.lang AND a.len_bucket = b.len_bucket
   AND a.doc_id < b.doc_id
),
common AS (
  SELECT cd.id_a, cd.id_b, COUNT(*) AS c
  FROM cand cd
  JOIN inv a ON a.doc_id = cd.id_a
  JOIN inv b ON b.doc_id = cd.id_b AND b.s = a.s
  GROUP BY cd.id_a, cd.id_b
),
pairs AS (
  SELECT cm.id_a, cm.id_b,
         cm.c / (na.n + nb.n - cm.c) AS jaccard
  FROM common cm
  JOIN nz na ON na.doc_id = cm.id_a
  JOIN nz nb ON nb.doc_id = cm.id_b
  WHERE cm.c / (na.n + nb.n - cm.c) >= {threshold}
)"""


Q18_SQL = f"""
WITH {_jaccard_pairs_ctes(0.2)}
SELECT id_a, id_b, jaccard FROM pairs
"""


# --------------------------------------------------------------------------
# Q19 — brute-force cosine top-k (exact ANN baseline)
# --------------------------------------------------------------------------

def q19_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return knn_bruteforce(queries, emb, k=3)


Q19_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS c_vec
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.q_vec, c.c_vec)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) + 0.0 AS cosine
  FROM q JOIN c ON q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# Q20 — LSH-bucketed approximate NN (probabilistic recall; the seeded
# hyperplanes are embedded in the oracle)
# --------------------------------------------------------------------------

# Vector width of the testdata embeddings (64 at sf0.001, sf0.01 and
# sf0.1): q20's and q153's hyperplanes, and the oracle literals built
# from them, have this width; signature_col fails a query whose vectors
# differ.
EMB_DIM = 64


def q20_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_ann(queries, emb, k=3, dim=EMB_DIM, n_planes=6, seed=42)


# The hyperplanes are deterministic module-time constants (seeded
# gaussians over the data's own dim), so the oracle embeds the SAME
# doubles as literals: DuckDB reproduces the sign signatures, hence the
# exact bucket candidate set, hence the same top-k. Sign decisions are
# unrounded doubles — a dot product within float-noise of 0 could
# theoretically flip between engines, but P(|N(0,1)·v| < 1e-12) is
# negligible and the rounded-cosine ranking below it is tie-broken
# exactly like q19's.
_Q20_PLANES = _hyperplanes(EMB_DIM, 6, 42)
_Q20_SIG = "\n         + ".join(
    f"(CASE WHEN list_dot_product(v, {plane!r}) >= 0 THEN {1 << i} ELSE 0 END)"
    for i, plane in enumerate(_Q20_PLANES))

Q20_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS (
  SELECT vec_id, v,
         {_Q20_SIG} AS sig
  FROM e
),
q AS (SELECT vec_id AS query_id, v AS q_vec, sig FROM sigs WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, v AS c_vec, sig FROM sigs),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.q_vec, c.c_vec)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) + 0.0 AS cosine
  FROM q JOIN c ON q.sig = c.sig AND q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# Q31 — IVF approximate NN (coarse-quantizer cells; probabilistic recall;
# the portable centroid sampling is replayed by the oracle)
# --------------------------------------------------------------------------

def q31_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FIT/SERVE SPLIT: the coarse-quantizer cell sample loads
    # from the persisted artifact (_ivf_artifact) — the plan runs no
    # training collect; the oracle re-derives the same centroids from
    # the data, certifying artifact == fresh fit.
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    art = _ivf_artifact(spark, sf_dir)
    cents = None if art is None else [list(c) for c in art.books[0]]
    return ivf_ann(queries, emb, k=3, n_cells=16, n_probe=4, seed=42,
                   centroids=cents)


# Every IVF stage is deterministic and engine-portable: centroid choice
# orders by md5(id#seed), cell assignment/probing rank raw cosine with
# (sim DESC, cell ASC) tie-break (numpy stable argsort ≡ the SQL window
# below), final ranking uses 6-decimal-rounded cosine. The oracle
# recomputes centroids FROM THE DATA, so nothing is baked in.
Q31_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT v AS cv,
         ROW_NUMBER() OVER (
           ORDER BY CAST(('0x' || substr(md5(vec_id || '#42'), 1, 15)) AS BIGINT),
                    vec_id) - 1 AS cell
  FROM e
  QUALIFY cell < 16
),
scored_cells AS (
  SELECT e.vec_id, e.v, c.cell,
         list_dot_product(e.v, c.cv)
         / (sqrt(list_dot_product(c.cv, c.cv))
            * sqrt(list_dot_product(e.v, e.v))) AS sim
  FROM e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id AS neighbor_id, v AS c_vec, cell
  FROM (SELECT vec_id, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) AS rn
        FROM scored_cells)
  WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, v AS q_vec, cell
  FROM (SELECT vec_id, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) AS rn
        FROM scored_cells WHERE vec_id < 8)
  WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         ROUND(list_dot_product(p.q_vec, a.c_vec)
               / (sqrt(list_dot_product(p.q_vec, p.q_vec))
                  * sqrt(list_dot_product(a.c_vec, a.c_vec))), 6) + 0.0 AS cosine
  FROM probe p JOIN assign a
    ON p.cell = a.cell AND p.query_id <> a.neighbor_id
)
SELECT query_id, neighbor_id, cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# Q22 — multimodal metadata (binary payload plumbing; decode is stubbed,
# byte-length metadata is oracle-checkable)
# --------------------------------------------------------------------------

def q22_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", spread=True)
    assets = attach_payload(docs, "doc_id", "text")
    feats = extract_features(assets)
    return feats.select("asset_id", "modality", "byte_len")


Q22_SQL = """
SELECT doc_id AS asset_id, 'image' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
FROM documents
"""


# --------------------------------------------------------------------------
# Q30 — frame sampling fan-out (multimodal one-to-many via mapInPandas);
# byte-window stub, but the expansion contract is oracle-checkable
# --------------------------------------------------------------------------

def q30_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    assets = attach_payload(docs, "doc_id", "text")
    frames = sample_frames(assets, every_n_bytes=64, max_frames=8)
    return (frames.groupBy("asset_id")
                  .agg(F.count(F.lit(1)).alias("n_frames"),
                       F.sum(F.length("frame_payload")).cast("long")
                        .alias("frame_bytes")))


Q30_SQL = """
SELECT doc_id AS asset_id,
       least(8, greatest(1, octet_length(encode(text)) // 64)) AS n_frames,
       least(octet_length(encode(text)),
             least(8, greatest(1, octet_length(encode(text)) // 64)) * 64)
         AS frame_bytes
FROM documents
"""


# --------------------------------------------------------------------------
# Q115 — REAL media decode: the multimodal family's real decoder. Per
# document a BMP (even doc_id) or WAV
# (odd) payload is synthesized whose pixel/sample values are pure
# arithmetic on doc_id, then media_probe PARSES THE BYTES — header
# walk, palette mapping, PCM chunk scan — with pure Python/numpy (no
# codec library). Because the synthesis parameters are arithmetic, the
# DuckDB oracle re-derives every decoded value (width, height, sample
# rate, duration, mean luminance/amplitude) WITHOUT parsing bytes: a
# hash mismatch means the decoder misread the file. Both the synth and
# the probe are map-only mapInPandas stages — zero shuffle at any
# scale; payloads never leave their partition.
# --------------------------------------------------------------------------

def q115_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    docs = read_table(spark, sf_dir, "documents", spread=True).select("doc_id")

    def _synth(batches):
        for pdf in batches:
            ids, mods, payloads, fmts = [], [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 2 == 0:
                    w, h, g = 8 + did % 16, 8, did % 251
                    payloads.append(encode_bmp(np.full((h, w), g, np.uint8)))
                    mods.append("image")
                    fmts.append("bmp")
                else:
                    n, amp = 100 + did % 400, did % 1000
                    payloads.append(
                        encode_wav(np.full(n, amp, np.int16), 8000))
                    mods.append("audio")
                    fmts.append("wav")
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "modality": mods, "payload": payloads,
                "media_format": fmts})

    assets = docs.mapInPandas(_synth, schema=ASSET_SCHEMA)
    probe = media_probe(assets)
    return (probe.filter(F.col("decoded"))
                 .select("asset_id", "media_format", "width", "height",
                         "n_channels", "sample_rate", "n_samples",
                         "duration_us", "mean_signal"))


Q115_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS media_format,
       CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 16 END AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS BIGINT) END AS height,
       CASE WHEN doc_id % 2 = 1 THEN CAST(1 AS BIGINT) END AS n_channels,
       CASE WHEN doc_id % 2 = 1 THEN CAST(8000 AS BIGINT) END AS sample_rate,
       CASE WHEN doc_id % 2 = 1 THEN 100 + doc_id % 400 END AS n_samples,
       CASE WHEN doc_id % 2 = 1 THEN (100 + doc_id % 400) * 125 END
         AS duration_us,
       CASE WHEN doc_id % 2 = 0
            THEN printf('%.4f', CAST(doc_id % 251 AS DOUBLE))
            ELSE printf('%.4f', CAST(doc_id % 1000 AS DOUBLE)) END
         AS mean_signal
FROM documents
"""


# --------------------------------------------------------------------------
# Q132 — REAL COMPRESSED-FORMAT decode under the oracle gate:
# per-document synthesized 8-bit PNGs (gradient content,
# RGB/RGBA alternating, and — crucially — ALL FIVE scanline filter
# types cycled by doc_id) are zlib-inflated, CRC-checked and
# unfiltered by operators.multimodal.decode_png; the probe's decoded
# dimensions/channels/mean must match an oracle that computes the
# expected values ANALYTICALLY from the synthesis parameters. A hash
# match certifies the inflate + unfilter + channel math end-to-end —
# a wrong Paeth predictor or row offset shifts every mean.
# --------------------------------------------------------------------------

def q132_png_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import ASSET_SCHEMA, encode_png, media_probe

    # every 3rd doc: 3 is coprime to the did%2 (color type) and
    # did%5 (filter type) cycles, so all combinations still appear at
    # a third of the per-row Python encode/decode cost
    docs = (read_table(spark, sf_dir, "documents", spread=True).select("doc_id")
            .filter(F.col("doc_id") % 3 == 0))

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 12, 4 + did % 7
                base = did % 200
                y, x = np.mgrid[0:h, 0:w]
                v = ((base + x + y) % 256).astype(np.uint8)
                if did % 2 == 0:
                    img = np.stack([v, v, v], axis=2)
                    ct = 2
                else:
                    img = np.stack([v, v, v,
                                    np.full_like(v, 255)], axis=2)
                    ct = 6
                payloads.append(encode_png(img, color_type=ct,
                                           filter_type=did % 5))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "modality": "image", "payload": payloads,
                "media_format": "png"})

    assets = docs.mapInPandas(_synth, schema=ASSET_SCHEMA)
    probe = media_probe(assets)
    return (probe.filter(F.col("decoded"))
                 .select("asset_id", "width", "height", "n_channels",
                         "mean_signal"))


Q132_SQL = """
SELECT doc_id AS asset_id,
       5 + doc_id % 12 AS width,
       4 + doc_id % 7 AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS BIGINT)
         AS n_channels,
       printf('%.4f', list_aggregate(
         flatten(list_transform(range(4 + doc_id % 7),
           y -> list_transform(range(5 + doc_id % 12),
             x -> CAST((doc_id % 200 + x + y) % 256 AS DOUBLE)))),
         'avg')) AS mean_signal
FROM documents
WHERE doc_id % 3 = 0
"""


# --------------------------------------------------------------------------
# Q137 — LOSSY compressed-format decode under the oracle gate: real
# baseline JPEG (ITU-T T.81 — Huffman entropy decode, dequantization,
# 2-D IDCT, YCbCr→RGB), numpy + struct only (operators.multimodal.
# decode_jpeg).
# Synthesis exploits the codec's exactness contract: images whose 8×8
# blocks are CONSTANT with the DC quant step dividing 8·(v−128)
# round-trip pixel-exactly through the lossy pipeline (DCT
# concentrates each block into one exactly-representable DC term), so
# the oracle predicts decoded stats analytically. doc_id cycles
# grayscale/4:4:4 color, four widths × three heights, and restart-
# marker intervals (DRI/RSTn resync + DC-predictor reset). The AC
# run-length paths the DC-only gate can't reach are pinned by the
# entropy-layer exact roundtrip property test (test_jpeg.py).
# --------------------------------------------------------------------------

def q137_jpeg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (ASSET_SCHEMA, encode_jpeg,
                                        media_probe)

    # every 3rd doc (did ≡ 1 mod 3): coprime to every synthesis cycle
    # below, so all gray/color × size × restart combinations appear at
    # a third of the per-row encode/decode cost
    docs = (read_table(spark, sf_dir, "documents", spread=True).select("doc_id")
            .filter(F.col("doc_id") % 3 == 1))

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                bw, bh = 1 + did % 4, 1 + did % 3
                vals = np.array(
                    [[128 + 2 * (((did * 7 + (by * bw + bx) * 13) % 49)
                                 - 24)
                      for bx in range(bw)] for by in range(bh)])
                gray = np.kron(vals, np.ones((8, 8), dtype=np.int64)) \
                         .astype(np.uint8)
                img = gray if did % 2 == 0 \
                    else np.stack([gray, gray, gray], axis=2)
                payloads.append(encode_jpeg(
                    img, quality=50,
                    restart_interval=2 if did % 5 == 0 else 0))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "modality": "image", "payload": payloads,
                "media_format": "jpeg"})

    assets = docs.mapInPandas(_synth, schema=ASSET_SCHEMA)
    probe = media_probe(assets)
    return (probe.filter(F.col("decoded"))
                 .select("asset_id", "width", "height", "n_channels",
                         "mean_signal"))


Q137_SQL = """
SELECT doc_id AS asset_id,
       8 * (1 + doc_id % 4) AS width,
       8 * (1 + doc_id % 3) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT)
         AS n_channels,
       printf('%.4f', 128 + 2 * (list_aggregate(
         list_transform(range((1 + doc_id % 4) * (1 + doc_id % 3)),
                        b -> CAST((doc_id * 7 + b * 13) % 49 AS DOUBLE)),
         'avg') - 24)) AS mean_signal
FROM documents
WHERE doc_id % 3 = 1
"""


# --------------------------------------------------------------------------
# Q193 — chroma-SUBSAMPLED JPEG decode under the oracle gate (4:2:0 is
# what cameras and the web actually emit). Same synthesis-exactness
# contract as q137, lifted to 16x16 MACROblocks: constant macroblocks
# survive the box-average chroma
# downsample (average of a constant is the constant), the DC-only
# quantization (R=G=B keeps Cb=Cr=128 exactly; luma offsets even so
# the step-16 DC divides), and the nearest-neighbor upsample — so the
# full 4:2:0/4:2:2 pipeline (MCU interleave, per-component DC
# predictors, restart resync, replication upsample, crop) is
# pixel-exact and the oracle predicts every decoded stat analytically.
# A wrong MCU block order, predictor mix-up, or upsample off-by-one
# shifts the mean.
# --------------------------------------------------------------------------

def q193_jpeg_subsampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (ASSET_SCHEMA, encode_jpeg,
                                        media_probe)

    docs = (read_table(spark, sf_dir, "documents", spread=True).select("doc_id")
            .filter(F.col("doc_id") % 3 == 0))

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                bw, bh = 1 + did % 3, 1 + did % 2
                vals = np.array(
                    [[128 + 2 * (((did * 7 + (by * bw + bx) * 13) % 49)
                                 - 24)
                      for bx in range(bw)] for by in range(bh)])
                gray = np.kron(vals, np.ones((16, 16), dtype=np.int64)) \
                         .astype(np.uint8)
                img = np.stack([gray, gray, gray], axis=2)
                payloads.append(encode_jpeg(
                    img, quality=50,
                    subsampling="420" if did % 2 == 0 else "422",
                    restart_interval=2 if did % 5 == 0 else 0))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "modality": "image", "payload": payloads,
                "media_format": "jpeg"})

    assets = docs.mapInPandas(_synth, schema=ASSET_SCHEMA)
    probe = media_probe(assets)
    return (probe.filter(F.col("decoded"))
                 .select("asset_id", "width", "height", "n_channels",
                         "mean_signal"))


Q193_SQL = """
SELECT doc_id AS asset_id,
       16 * (1 + doc_id % 3) AS width,
       16 * (1 + doc_id % 2) AS height,
       CAST(3 AS BIGINT) AS n_channels,
       printf('%.4f', 128 + 2 * (list_aggregate(
         list_transform(range((1 + doc_id % 3) * (1 + doc_id % 2)),
                        b -> CAST((doc_id * 7 + b * 13) % 49 AS DOUBLE)),
         'avg') - 24)) AS mean_signal
FROM documents
WHERE doc_id % 3 = 0
"""


# --------------------------------------------------------------------------
# Q198 — PROGRESSIVE JPEG (SOF2) decode under the oracle gate: the
# spectral-selection + successive-approximation pipeline
# (operators.multimodal.encode_jpeg_progressive / decode_jpeg's
# Annex-G scan accumulation) certified with the same macroblock-
# exactness contract as q137/q193 — block-constant 16x16 cells whose
# DC survives quantization exactly, so dims/channels/mean are
# analytic. The decode exercises every scan type in libjpeg's default
# script: interleaved DC first pass, per-component AC spectral bands
# at two successive-approximation depths, AC refinement, DC
# refinement. A single dropped refinement bit anywhere shifts a cell
# mean and diverges the hash.
# --------------------------------------------------------------------------

def q198_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (ASSET_SCHEMA,
                                        encode_jpeg_progressive,
                                        media_probe)

    docs = (read_table(spark, sf_dir, "documents", spread=True).select("doc_id")
            .filter(F.col("doc_id") % 3 == 1))

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                bw, bh = 1 + did % 4, 1 + did % 3
                vals = np.array(
                    [[128 + 2 * (((did * 7 + (by * bw + bx) * 13) % 49)
                                 - 24)
                      for bx in range(bw)] for by in range(bh)])
                gray = np.kron(vals, np.ones((16, 16), dtype=np.int64)) \
                         .astype(np.uint8)
                img = np.stack([gray, gray, gray], axis=2)
                payloads.append(encode_jpeg_progressive(
                    img, quality=50,
                    subsampling="420" if did % 2 == 0 else "444"))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "modality": "image", "payload": payloads,
                "media_format": "jpeg"})

    assets = docs.mapInPandas(_synth, schema=ASSET_SCHEMA)
    probe = media_probe(assets)
    return (probe.filter(F.col("decoded"))
                 .select("asset_id", "width", "height", "n_channels",
                         "mean_signal"))


Q198_SQL = """
SELECT doc_id AS asset_id,
       16 * (1 + doc_id % 4) AS width,
       16 * (1 + doc_id % 3) AS height,
       CAST(3 AS BIGINT) AS n_channels,
       printf('%.4f', 128 + 2 * (list_aggregate(
         list_transform(range((1 + doc_id % 4) * (1 + doc_id % 3)),
                        b -> CAST((doc_id * 7 + b * 13) % 49 AS DOUBLE)),
         'avg') - 24)) AS mean_signal
FROM documents
WHERE doc_id % 3 = 1
"""


# --------------------------------------------------------------------------
# Q142 — dictionary-coded compressed decode under the oracle gate:
# real GIF/LZW (operators.multimodal.decode_gif — variable-width
# 12-bit-max dictionary codes, CLEAR resets, KwKwK case, interlaced
# row reordering; stdlib only). Completes the compressed-codec
# triptych: zlib/DEFLATE (q132), DCT/Huffman (q137), LZW (here).
# Synthesized gradients cycle interlaced/sequential storage and image
# sizes; grayscale palettes make the decoded RGB integer-valued, so
# the oracle recomputes every mean analytically — a wrong dictionary
# entry, width bump, or interlace pass shifts every pixel.
# --------------------------------------------------------------------------

def q142_gif_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (ASSET_SCHEMA, encode_gif,
                                        media_probe)

    docs = (read_table(spark, sf_dir, "documents", spread=True).select("doc_id")
            .filter(F.col("doc_id") % 3 == 2))
    pal = [(i, i, i) for i in range(256)]

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 6 + did % 11, 5 + did % 6
                y, x = np.mgrid[0:h, 0:w]
                img = (did + 3 * x + 7 * y) % 256
                payloads.append(encode_gif(img, pal,
                                           interlace=bool(did % 2)))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "modality": "image", "payload": payloads,
                "media_format": "gif"})

    assets = docs.mapInPandas(_synth, schema=ASSET_SCHEMA)
    probe = media_probe(assets)
    return (probe.filter(F.col("decoded"))
                 .select("asset_id", "width", "height", "n_channels",
                         "mean_signal"))


Q142_SQL = """
SELECT doc_id AS asset_id,
       6 + doc_id % 11 AS width,
       5 + doc_id % 6 AS height,
       CAST(3 AS BIGINT) AS n_channels,
       printf('%.4f', list_aggregate(
         flatten(list_transform(range(5 + doc_id % 6),
           y -> list_transform(range(6 + doc_id % 11),
             x -> CAST((doc_id + 3 * x + 7 * y) % 256 AS DOUBLE)))),
         'avg')) AS mean_signal
FROM documents
WHERE doc_id % 3 = 2
"""


# --------------------------------------------------------------------------
# Q145 — weighted PageRank over the part co-purchase graph
# (operators.graph.pagerank): the engine's second ITERATIVE family
# beyond connected components. Edges are co-purchases within an order
# (per-order fan-out structurally bounded by items/order, ~7 in this
# schema — never corpus²), symmetrized so the walk has no dangling
# mass. Each power iteration is one join + one aggregation; per-
# contribution ROUND → exact-DECIMAL sums make the float recursion
# partition-order-independent, so the DuckDB oracle replays all three
# iterations bit-for-bit (the bigram_perplexity determinism idiom).
# --------------------------------------------------------------------------

def q145_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    # rolling-window graph: affinity is computed over the trailing
    # window in practice (and the filter pushes to the parquet scan),
    # keeping the edge set proportional to recent activity
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") >= "1997-01-01")
          .select("l_orderkey", "l_partkey").distinct())
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("s"),
                      F.col("b.l_partkey").alias("d"))
             .agg(F.count(F.lit(1)).alias("w")))
    edges = pairs.unionByName(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"), "w"))
    # parts are a bounded catalog → the rank vector broadcasts and the
    # 2|pairs| edge table never shuffles inside the iteration
    pr = pagerank(edges, n_iter=3, src="s", dst="d", weight="w",
                  broadcast_ranks=True)
    return pr.select(F.col("node").alias("part_key"), "rank")


def _q145_sql() -> str:
    from ..operators.graph import pagerank_sql
    # MATERIALIZED reused CTEs: inlined, DuckDB re-derives the basket
    # self-join per unrolled pagerank iteration (past the oracle budget
    # at 6M lineitem; 7 s materialized)
    return f"""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_shipdate >= DATE '1997-01-01'),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS s, b.l_partkey AS d, COUNT(*) AS w
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
edges AS MATERIALIZED (SELECT s, d, w FROM pairs
          UNION ALL SELECT d, s, w FROM pairs),
{pagerank_sql(n_iter=3).lstrip()}
""".replace("SELECT node, rank FROM",
            "SELECT node AS part_key, rank FROM")


Q145_SQL = _q145_sql()


# Sequence-packing parameters + shared oracle prelude (token counts
# and shard/order hashes matching sampling.portable_bucket(seed=7)
# and packing._sharded exactly) — used by q138/q139/q144.
_PACK_CTX, _PACK_SHARDS, _PACK_SEED = 256, 8, 7

_PACK_BASE = f"""
tok AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens
  FROM documents),
-- MATERIALIZED: the recursive greedy scan below joins `ordered` once
-- per row rank; inlined, DuckDB recomputes the md5 ordering keys for
-- all docs on every iteration (past the oracle budget at 50k docs).
-- Materializing makes each iteration a cheap frontier-probe (18 s at
-- 50k docs).
hashes AS MATERIALIZED (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                  || '#{_PACK_SEED}'), 1, 15)) AS BIGINT)
           % {_PACK_SHARDS} AS shard,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                  || '#order#{_PACK_SEED}'), 1, 15))
              AS BIGINT) AS h
  FROM tok)
"""


# --------------------------------------------------------------------------
# Q144 — the shard WRITER under the oracle gate: pack the corpus
# (q138's coordinates), attach the text, WRITE a shard-partitioned
# parquet layout through sources.writers.write_parquet (partitionBy
# shard + sortWithinPartitions on seq_first — the row-group
# clustering lever), READ IT BACK, and digest each shard
# (order-independent md5 sum over the full row: ids, packing
# coordinates, text signature). The oracle recomputes the digests
# from the source tables alone, so a hash match certifies the entire
# materialization path — partition pruning layout, type round-trip
# through partition columns, no row lost/duplicated/mutated by the
# sink. This is the step that turns the engine's packing output into
# the on-disk training shards a loader consumes.
# --------------------------------------------------------------------------

def q144_shard_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_hash60
    from ..operators.packing import pack_concat_chunk
    from ..sources.writers import write_parquet

    docs = read_table(spark, sf_dir, "documents")
    counted = docs.select("doc_id", "text",
                          F.size(tokens(F.col("text"))).alias("_n"))
    packed = pack_concat_chunk(counted.select("doc_id", F.col("_n")),
                               "doc_id", F.col("_n"),
                               ctx_len=_PACK_CTX, n_shards=_PACK_SHARDS,
                               seed=_PACK_SEED)
    staged = packed.join(counted.select("doc_id", "text"), "doc_id")
    path = scratch_dir(spark, sf_dir, "shards")
    write_parquet(staged, path, partition_by=("shard",),
                  sort_by=("seq_first", "doc_id"))
    # explicit schema: the loader's contract (and an empty corpus
    # writes no part files, leaving nothing to infer from)
    back = spark.read.schema(staged.schema).parquet(path)
    canon = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.col("n_tokens").cast("string"),
        F.col("seq_first").cast("string"),
        F.col("seq_last").cast("string"),
        F.col("offset").cast("string"),
        F.md5(F.encode("text", "UTF-8")))
    return (back.groupBy(F.col("shard").cast("long").alias("shard"))
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").alias("n_tokens"),
                     (F.max("seq_last") + 1).alias("n_seqs"),
                     F.sum(portable_hash60(canon).cast("decimal(38,0)"))
                      .cast("decimal(38,0)").cast("string")
                      .alias("digest")))


Q144_SQL = f"""
WITH {_PACK_BASE},
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum
  FROM hashes),
coords AS (
  SELECT doc_id, shard, n_tokens,
         CAST(FLOOR(cum / {_PACK_CTX}) AS BIGINT) AS seq_first,
         CAST(CASE WHEN n_tokens > 0
                   THEN FLOOR((cum + n_tokens - 1) / {_PACK_CTX})
                   ELSE FLOOR(cum / {_PACK_CTX}) END AS BIGINT)
           AS seq_last,
         cum % {_PACK_CTX} AS "offset"
  FROM c),
canon AS (
  SELECT co.shard, co.n_tokens, co.seq_last,
         concat_ws('|', CAST(co.doc_id AS VARCHAR),
                   CAST(co.n_tokens AS VARCHAR),
                   CAST(co.seq_first AS VARCHAR),
                   CAST(co.seq_last AS VARCHAR),
                   CAST(co."offset" AS VARCHAR),
                   md5(d.text)) AS cc
  FROM coords co JOIN documents d USING (doc_id))
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MAX(seq_last) + 1 AS BIGINT) AS n_seqs,
       CAST(CAST(SUM(CAST(CAST(('0x' || substr(md5(cc), 1, 15)) AS BIGINT)
                          AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         AS digest
FROM canon GROUP BY shard
"""


# --------------------------------------------------------------------------
# Q143 — per-row compressed text columns (operators.multimodal
# .compress_text / decompress_text): the storage shape 100 TB corpora
# actually use — document bodies as per-row compressed BLOBs (page
# codecs don't help a single huge projected column; per-row codecs
# let filtered scans skip decompression). All four stdlib codecs
# cycle by doc_id; the decompressed text's length and md5 must match
# the oracle's direct computation over the source column — certifying
# decompress∘compress == id per codec through the Arrow batch path.
# --------------------------------------------------------------------------

def q143_compressed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (_TEXT_CODECS, compress_text,
                                        decompress_text)

    docs = read_table(spark, sf_dir, "documents")
    legs = []
    for i, codec in enumerate(_TEXT_CODECS):
        leg = (docs.filter(F.pmod("doc_id", F.lit(4)) == i)
                   .select("doc_id", F.lit(codec).alias("codec"),
                           compress_text(F.col("text"), codec)
                           .alias("_blob")))
        legs.append(leg.select(
            "doc_id", "codec",
            decompress_text(F.col("_blob"), codec).alias("_back")))
    back = legs[0]
    for leg in legs[1:]:
        back = back.unionByName(leg)
    return back.select(
        "doc_id", "codec",
        F.length("_back").cast("long").alias("n_chars"),
        F.md5(F.encode("_back", "UTF-8")).alias("text_sig"))


Q143_SQL = """
SELECT doc_id,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'zlib' WHEN 1 THEN 'gzip'
            WHEN 2 THEN 'bz2' ELSE 'lzma' END AS codec,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS text_sig
FROM documents
"""


# --------------------------------------------------------------------------
# Q133 — BPE fit + ENCODE end-to-end under the oracle gate: merge rules
# are fitted on the corpus (bpe_fit_batched —
# provably identical to sequential fit) and applied by bpe_encode;
# the output token stream per document is hash-checked against a
# DuckDB oracle that REPLAYS THE WHOLE PIPELINE — the merge-rule
# derivation as N unrolled argmax rounds over the word-frequency
# table, and the merge application as left-to-right non-overlapping
# separator-string replaces (replace() scans left-to-right without
# rescanning its own output, exactly the fold's semantics). The
# oracle's final vocab state IS the per-word encoding, so nothing is
# baked in: a wrong tie-break, pair count, or fold order changes
# every downstream token.
#
# Representation note: words render as chr(31)-separated symbol
# strings; the corpus alphabet is space + [a-y] (verified), so the
# separator never collides with symbol content.
# --------------------------------------------------------------------------

_BPE_MERGES, _BPE_MINC = 8, 2


_BPE_RULES_MEMO: dict = {}


def _bpe_rules(spark: SparkSession, sf_dir: str) -> list:
    """Fit-once tokenizer artifact: the merge-rule list IS the
    tokenizer, a pure function of the corpus — so serve (encode) runs
    reuse it per-process, same discipline as the PQ artifact memo
    (keyed on the corpus file's mtime; a regenerated dataset refits).
    Cuts the q133 bench figure to the encode it actually measures
    instead of re-running the fit's driver rounds every build."""
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    try:
        key = (src, os.stat(src).st_mtime_ns)
    except OSError:
        key = (src, None)
    if key not in _BPE_RULES_MEMO:
        from ..operators.bpe import bpe_fit_batched
        docs = read_table(spark, sf_dir, "documents")
        _BPE_RULES_MEMO[key] = bpe_fit_batched(
            docs, "text", n_merges=_BPE_MERGES,
            min_pair_count=_BPE_MINC)
    return _BPE_RULES_MEMO[key]


def q133_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode
    docs = read_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, "doc_id", "text", _bpe_rules(spark, sf_dir))
    return enc.select(
        "doc_id",
        F.concat_ws("\x1f", "tokens").alias("tokens_str"),
        "n_bpe_tokens")


def _bpe_round_ctes(r: int) -> str:
    sep = "chr(31)"
    prev = f"v{r - 1}"
    return f"""
p{r} AS (
  SELECT z.pr[1] AS a, z.pr[2] AS b, SUM(z.n) AS cnt
  FROM (
    SELECT n, unnest(list_zip(i.inner[1:len(i.inner)-1],
                              i.inner[2:len(i.inner)])) AS pr
    FROM (SELECT n, list_filter(string_split(s, {sep}), x -> x <> '')
                   AS inner
          FROM {prev}) i
  ) z
  GROUP BY 1, 2
),
t{r} AS (SELECT a, b FROM p{r} WHERE cnt >= {_BPE_MINC}
         ORDER BY cnt DESC, a, b LIMIT 1),
v{r} AS (
  SELECT v.word, v.n,
         CASE WHEN t.a IS NULL THEN v.s
              ELSE replace(v.s, {sep}||t.a||{sep}||t.b||{sep},
                                {sep}||t.a||t.b||{sep}) END AS s
  FROM {prev} v LEFT JOIN t{r} t ON TRUE
)"""


Q133_SQL = f"""
WITH wf AS (
  SELECT word, COUNT(*) AS n
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word
),
v0 AS (
  SELECT word, n,
         chr(31) || regexp_replace(word, '(.)', '\\1' || chr(31), 'g') AS s
  FROM wf
),{','.join(_bpe_round_ctes(r) for r in range(1, _BPE_MERGES + 1))},
fv AS (SELECT word, s FROM v{_BPE_MERGES}),
words AS (
  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
),
enc AS (
  SELECT w.doc_id, w.pos,
         trim(fv.s, chr(31)) AS word_toks,
         len(string_split(fv.s, chr(31))) - 2 AS n_toks
  FROM words w JOIN fv ON w.word = fv.word
  WHERE w.word <> ''
)
SELECT doc_id,
       string_agg(word_toks, chr(31) ORDER BY pos) AS tokens_str,
       CAST(SUM(n_toks) AS BIGINT) AS n_bpe_tokens
FROM enc GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Q134/Q135 — JSON-lines and ORC sources certified under the oracle
# gate (S-family extension): stage lineitem columns through the
# format, read back with the contract schema, aggregate — and the
# result must hash-match an oracle computed from the ORIGINAL parquet
# table. Equality holds iff the roundtrip was value-exact (doubles
# through Jackson shortest-repr for JSON; native types for ORC), so
# the gate certifies the serializer+parser pair, not just "it ran".
# Timestamps ride as DATE (tz-free in both formats) — instants would
# shift under a non-UTC session and turn the gate into a tz test.
# --------------------------------------------------------------------------


def _stage_roundtrip(spark: SparkSession, sf_dir: str, fmt: str,
                     options: dict[str, str] | None = None,
                     spread: bool = False):
    # spread=True only for serde-heavy formats (XML): per-row text
    # serialization on the scan's single partition dominated q151
    # (A/B: 8.1s -> 1.8s); for cheap row formats (json/orc) the extra
    # exchange + 32 small staged files measured slower, so they stay
    # single-stage.
    base = (read_table(spark, sf_dir, "lineitem", spread=spread)
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount", "l_returnflag",
                    F.col("l_shipdate").cast("date").alias("ship_date")))
    path = scratch_dir(spark, sf_dir, f"stage_{fmt}")
    opts = options or {}
    base.write.mode("overwrite").format(fmt).options(**opts).save(path)
    return (spark.read.format(fmt).options(**opts)
            .schema(base.schema).load(path))


def q134_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _stage_roundtrip(spark, sf_dir, "json")
    return (back.groupBy("l_returnflag")
                .agg(F.count(F.lit(1)).alias("n"),
                     dsum("l_quantity").alias("sum_qty"),
                     dsum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")))
                     .alias("disc_revenue")))


def q135_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _stage_roundtrip(spark, sf_dir, "orc")
    return (back.groupBy(F.date_format("ship_date", "yyyy-MM")
                          .alias("ship_month"),
                         "l_returnflag")
                .agg(F.count(F.lit(1)).alias("n"),
                     dsum("l_extendedprice").alias("revenue")))


_Q134_AGG = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS disc_revenue
FROM lineitem GROUP BY l_returnflag
"""

_Q135_AGG = """
SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
       l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM lineitem GROUP BY ship_month, l_returnflag
"""


# --------------------------------------------------------------------------
# Q24 — canonical fingerprint dedup (md5 of normalized text)
# --------------------------------------------------------------------------

def q24_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedupe(docs, "doc_id", fingerprint_md5(F.col("text")))


Q24_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
       MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q25 — exact embedding-cosine near-dup pairs (blocked GEMM brute force;
# the recall-1.0 twin of the LSH path)
# --------------------------------------------------------------------------

def q25_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # n_blocks auto-sized from count x dim so each block's float64
    # matrix stays ~64 MB — the knob that keeps two blocks per task
    # resident at any corpus scale
    return cosine_neardup_pairs(emb, threshold=0.45)


Q25_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
"""


# --------------------------------------------------------------------------
# Q192 — anchored exact cosine certification (the q189 anchor pattern
# applied to dense cosine): exact pairs restricted to >=1 anchor
# endpoint, so exact ground truth costs O(n_anchors * n * d) — linear
# in corpus size — instead of q25's O(n^2 * d). This is the mode the
# max_pairs guard on cosine_neardup_pairs points big corpora at.
# --------------------------------------------------------------------------

_Q192_ANCHOR_N = 200


def q192_neardup_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._cache import register_cache
    emb = read_table(spark, sf_dir, "embeddings")
    anchors = register_cache(
        emb.select("vec_id")
           .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
           .limit(_Q192_ANCHOR_N))
    return cosine_neardup_pairs(emb, threshold=0.3, anchor_ids=anchors)


# The oracle mirrors the anchoring structurally (NOT an n^2 join then
# filter — the >=1-anchor disjunction can't be pushed into either join
# side, so the naive form recomputes the full corpus^2 at scale): each
# branch probes from the anchor side only, UNION dedups the
# both-anchor overlap on ids, and the cosine is computed once per
# surviving pair.
Q192_SQL = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
a2 AS MATERIALIZED (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {_Q192_ANCHOR_N}
),
ae AS (SELECT e.vec_id FROM e JOIN a2 USING (vec_id)),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ae a JOIN e b ON a.vec_id < b.vec_id
  UNION
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN ae b ON a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       ROUND(list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v))
                * sqrt(list_dot_product(y.v, y.v))), 6) + 0.0 AS cosine
FROM cand c JOIN e x ON x.vec_id = c.id_a JOIN e y ON y.vec_id = c.id_b
WHERE ROUND(list_dot_product(x.v, y.v)
            / (sqrt(list_dot_product(x.v, x.v))
               * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.3
"""


# --------------------------------------------------------------------------
# Q28 — as-of join: last-click attribution for purchases (backward
# inclusive point-in-time lookup; shuffle-once union+window plan)
# --------------------------------------------------------------------------

# shared NTZ→epoch-micros helper lives in sources.readers (ntz_micros)
_ntz_micros = ntz_micros


def q28_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("event_id", "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    j = asof_join(purchases, clicks, on=["user_id"],
                  left_ts="ts", right_ts="ts",
                  right_payload=["event_id", "ts"],
                  tie_break="event_id", prefix="click_")
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        _ntz_micros("ts").alias("purchase_ts_us"),
        F.col("click_event_id").alias("last_click_id"),
        _ntz_micros("click_ts").alias("last_click_ts_us"))


Q28_SQL = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       l.event_id AS last_click_id,
       epoch_us(l.ts) AS last_click_ts_us
FROM p LEFT JOIN LATERAL (
  SELECT c.event_id, c.ts FROM c
  WHERE c.user_id = p.user_id AND c.ts <= p.ts
  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
) l ON true
"""


# --------------------------------------------------------------------------
# Q118 — LINEAR multi-touch attribution (q28 is last-touch): every
# click of the same user in the 3 days before a purchase shares the
# conversion credit equally. The join is the banded range_join (time-
# bucketed equi-keys — no per-user cross product on hot users), the
# per-conversion touch count is one window, and credit is integer
# FIXED-POINT (ppm = 1000000 div n): float 1/n sums are partition-
# order-dependent for n∤2^k, integer division sums are exact in both
# engines — determinism is part of the contract, not a rounding hope.
# --------------------------------------------------------------------------

def q118_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select(F.col("event_id").alias("conv_id"),
                           "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    pairs = range_join(purchases, clicks, on=["user_id"],
                       left_ts="ts", right_ts="ts",
                       lower_s=-259_200, upper_s=0,
                       right_payload=["event_id"], prefix="c_")
    n = F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
    sized = pairs.select("conv_id", "user_id",
                         F.col("c_event_id").alias("click_id"),
                         (F.lit(1_000_000).cast("long") / n).cast("long")
                          .alias("_ppm"))
    return (sized.groupBy("click_id", "user_id")
                 .agg(F.count(F.lit(1)).alias("n_conversions"),
                      F.sum("_ppm").cast("long").alias("credit_ppm")))


Q118_SQL = """
WITH p AS (SELECT event_id AS conv_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'),
pairs AS (
  SELECT p.conv_id, c.click_id, c.user_id
  FROM p JOIN c ON c.user_id = p.user_id
   AND c.ts >= p.ts - INTERVAL 259200 SECOND AND c.ts <= p.ts
),
sized AS (SELECT *, COUNT(*) OVER (PARTITION BY conv_id) AS n FROM pairs)
SELECT click_id, user_id,
       COUNT(*) AS n_conversions,
       CAST(SUM(1000000 // n) AS BIGINT) AS credit_ppm
FROM sized GROUP BY click_id, user_id
"""


# --------------------------------------------------------------------------
# Q38 — order- and case-sensitive token-sequence fingerprint dedup: q24
# without the lowercasing
# --------------------------------------------------------------------------

def q38_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedupe(docs, "doc_id", fingerprint_tokens(F.col("text")))


Q38_SQL = """
SELECT md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS text_hash,
       MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q41 — MinHash+LSH (32 minhashes, 8 bands, candidate self-join,
# exact-Jaccard verify) with md5-derived hashes, so DuckDB reproduces
# the CANDIDATE SET and the verified pairs bit-for-bit — the LSH
# algorithm itself is oracle-checked, not just row counts
# --------------------------------------------------------------------------

# q41's full LSH parameter set, shared BY CONSTRUCTION with the recall
# certifications whose "found" side claims to mirror q41 (q171/q189) —
# a drift in q41's banding/threshold must move all three together or
# the certificates silently certify a different index.
_Q41_LSH_KWARGS = dict(k=3, n_hashes=32, bands=8, threshold=0.3)


def q41_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return minhash_lsh_pairs(docs, "doc_id", "text", **_Q41_LSH_KWARGS)


_H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
_Q41_MINS = ",\n         ".join(
    f"MIN(xor(z, {r})) AS h{i}" for i, r in enumerate(minhash_masks(32)))
_Q41_BANDS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_id,\n         "
    + _H60.format(x="concat_ws('#', "
                  + ", ".join(f"h{b * 4 + r}" for r in range(4)) + ")")
    + " AS band_hash FROM sig"
    for b in range(8))

Q41_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_distinct([
           list_aggregate(tok[i:i+2], 'string_agg', ' ')
           FOR i IN range(1, greatest(len(tok) - 2, 0) + 1)
         ]) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM documents)
), nz AS (
  SELECT doc_id, shingles FROM base WHERE len(shingles) > 0
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM nz
), shz AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS z
  FROM sh
), sig AS (
  SELECT doc_id,
         {_Q41_MINS}
  FROM shz GROUP BY doc_id
), bands AS (
{_Q41_BANDS}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, len(shingles) AS n FROM nz
), common AS (
  SELECT ca.id_a, ca.id_b, COUNT(*) AS n_common
  FROM cand ca
  JOIN sh sa ON sa.doc_id = ca.id_a
  JOIN sh sb ON sb.doc_id = ca.id_b AND sb.s = sa.s
  GROUP BY ca.id_a, ca.id_b
)
SELECT cm.id_a, cm.id_b,
       cm.n_common / (na.n + nb.n - cm.n_common) AS jaccard
FROM common cm
JOIN sizes na ON na.doc_id = cm.id_a
JOIN sizes nb ON nb.doc_id = cm.id_b
WHERE cm.n_common / (na.n + nb.n - cm.n_common) >= 0.3
"""


# --------------------------------------------------------------------------
# Q199 — INCREMENTAL LSH dedup at ingest (operators/dedup.
# incremental_lsh_dedup): the continuous-pipeline shape of q41 — new
# batch (doc_id % 10 == 0) probes the EXISTING corpus's LSH index
# (entries + sizes + postings, the LshDedupIndex serve artifact),
# exact-Jaccard verifies against the stored postings (semi-joined to
# candidate ids first — only candidate docs' shingles cross the
# shuffle), and emits the drop/flag decision rows. Work per batch is
# batch-size + collisions, never O(corpus); in production the index
# loads from parquet and each admitted batch appends its per-doc rows
# (append ≡ rebuild pinned in tests/test_dedup). Same portable md5
# family as q41, so the oracle reproduces the candidate set and every
# verified pair bit-for-bit.
# --------------------------------------------------------------------------

def q199_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import fit_lsh_dedup_index, incremental_lsh_dedup

    docs = read_table(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    index = fit_lsh_dedup_index(corpus, "doc_id", "text",
                                k=3, n_hashes=32, bands=8)
    return incremental_lsh_dedup(None, batch, "doc_id", "text",
                                 k=3, n_hashes=32, bands=8,
                                 threshold=0.3,
                                 index=index)


Q199_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_distinct([
           list_aggregate(tok[i:i+2], 'string_agg', ' ')
           FOR i IN range(1, greatest(len(tok) - 2, 0) + 1)
         ]) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM documents)
), nz AS (
  SELECT doc_id, shingles FROM base WHERE len(shingles) > 0
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM nz
), shz AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS z
  FROM sh
), sig AS (
  SELECT doc_id,
         {_Q41_MINS}
  FROM shz GROUP BY doc_id
), bands AS (
{_Q41_BANDS}
), cand AS (
  SELECT DISTINCT b.doc_id AS id_new, a.doc_id AS id_existing
  FROM bands b JOIN bands a
    ON b.band_id = a.band_id AND b.band_hash = a.band_hash
  WHERE b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0
), sizes AS (
  SELECT doc_id, len(shingles) AS n FROM nz
), common AS (
  SELECT ca.id_new, ca.id_existing, COUNT(*) AS n_common
  FROM cand ca
  JOIN sh sa ON sa.doc_id = ca.id_new
  JOIN sh sb ON sb.doc_id = ca.id_existing AND sb.s = sa.s
  GROUP BY ca.id_new, ca.id_existing
)
SELECT cm.id_new, cm.id_existing,
       cm.n_common / (na.n + nb.n - cm.n_common) AS jaccard
FROM common cm
JOIN sizes na ON na.doc_id = cm.id_new
JOIN sizes nb ON nb.doc_id = cm.id_existing
WHERE cm.n_common / (na.n + nb.n - cm.n_common) >= 0.3
"""


# --------------------------------------------------------------------------
# Q200 — LSH index SERVE from the persisted artifact (operators/dedup.
# save_lsh_dedup_index / load_lsh_dedup_index): q199's exact pipeline,
# but the corpus side round-trips through the on-disk LshDedupIndex
# parquet folder (entries + sizes + postings) before serving — the
# production continuous-ingest shape, where the fit ran at setup time
# and every batch probes the stored tables. Output is identical to
# q199 by construction, so the SAME oracle hash-certifies the artifact
# round-trip + serve path end-to-end. The artifact is keyed by
# (dataset, applicationId) like q195's bucketed tables so concurrent
# sessions / same-session scale runs never collide.
# --------------------------------------------------------------------------

def q200_lsh_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (fit_lsh_dedup_index, incremental_lsh_dedup,
                                   load_lsh_dedup_index,
                                   save_lsh_dedup_index)

    docs = read_table(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    path = scratch_dir(spark, sf_dir, "lsh200")
    if not os.path.isdir(path):
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text",
                                k=3, n_hashes=32, bands=8), path)
    index = load_lsh_dedup_index(spark, path)
    return incremental_lsh_dedup(None, batch, "doc_id", "text",
                                 k=3, n_hashes=32, bands=8,
                                 threshold=0.3,
                                 index=index)


# --------------------------------------------------------------------------
# Q204 — partitioned-entries LSH index serve: q200's artifact with the
# entries table Hive-partitioned by pmod(xxhash64(band_id, band_hash),
# P) (save_lsh_dedup_index partition_entries=16). The probe join then
# reads ONLY the partitions the batch's own band hashes fall in
# (PartitionFilters — pinned by pytest), killing the one O(corpus)
# term left in the serve plan: at a 100 TB corpus the per-batch
# entries read becomes O(touched partitions), the same pruning
# contract as the bucketed CDC snapshot (q201). Output is identical
# to q199/q200 by construction, so the same oracle hash-certifies the
# layout + pruned serve end-to-end.
# --------------------------------------------------------------------------

def q204_lsh_pruned_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (fit_lsh_dedup_index, incremental_lsh_dedup,
                                   load_lsh_dedup_index,
                                   save_lsh_dedup_index)

    docs = read_table(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    path = scratch_dir(spark, sf_dir, "lsh204")
    if not os.path.isdir(path):
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text",
                                k=3, n_hashes=32, bands=8), path,
            partition_entries=16)
    index = load_lsh_dedup_index(spark, path)
    return incremental_lsh_dedup(None, batch, "doc_id", "text",
                                 k=3, n_hashes=32, bands=8,
                                 threshold=0.3,
                                 index=index)


# --------------------------------------------------------------------------
# Q203 — LshDedupIndex DELETE maintenance (operators/dedup.
# delete_from_lsh_dedup_index): q200's persisted index with a third of
# the corpus tombstoned after the fit — index files are append-only,
# so the removal is an append to the tombstone side-table and the
# serve path anti-joins candidates against it (broadcast — the
# tombstone set is delete-sized) before any verify work. The oracle is
# q199's full replay restricted to the SURVIVING corpus, so a hash
# match certifies delete ≡ refit: tombstoned docs never match incoming
# batches, remaining matches byte-identical. (compact_lsh_dedup_index,
# which physically reclaims the rows, is pinned ≡ rebuild by pytest —
# same answer by construction, so no second query needed.)
# --------------------------------------------------------------------------

def q203_lsh_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (delete_from_lsh_dedup_index,
                                   fit_lsh_dedup_index,
                                   incremental_lsh_dedup,
                                   load_lsh_dedup_index,
                                   save_lsh_dedup_index)

    docs = read_table(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    path = scratch_dir(spark, sf_dir, "lsh203")
    if not os.path.isdir(path):
        save_lsh_dedup_index(
            fit_lsh_dedup_index(corpus, "doc_id", "text",
                                k=3, n_hashes=32, bands=8), path)
        # the deleted ids are a projection with no per-row work: an
        # unspread read keeps their delete a one-stage scan
        delete_from_lsh_dedup_index(
            read_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 == 1))
            .select("doc_id"), path)
    index = load_lsh_dedup_index(spark, path)
    return incremental_lsh_dedup(None, batch, "doc_id", "text",
                                 k=3, n_hashes=32, bands=8,
                                 threshold=0.3,
                                 index=index)


Q203_SQL = Q199_SQL.replace(
    "WHERE b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0",
    "WHERE b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0"
    " AND a.doc_id % 3 <> 1")
if Q203_SQL == Q199_SQL:  # the anchor line moved: fail at import, loudly
    raise AssertionError("Q203_SQL tombstone filter did not apply")


# --------------------------------------------------------------------------
# Q201 — bucket-pruned CDC MERGE: a change feed (upserts + delete
# tombstones) applied batch-by-batch to a hash-bucketed keyed snapshot;
# each merge rewrites only the buckets the batch touches
# (streaming/bucketed_upsert.py — the O(delta + touched·snapshot/B)
# scale path for the reference's keep-latest re-dedupe,
# go-incremental-ingest-elt.py:200-213). The oracle replays the whole
# feed as one window: the merged snapshot must equal newest-change-
# per-key with delete-winners absent, REGARDLESS of how the feed was
# batched — the algebraic property that makes the merge replay-safe.
# --------------------------------------------------------------------------

def q201_bucketed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.bucketed_upsert import (bucketed_merge,
                                             read_bucketed_snapshot)

    orders = read_table(spark, sf_dir, "orders")
    changes = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
         .otherwise(F.lit("U")).alias("op"))
    snap = scratch_dir(spark, sf_dir, "upsert201")
    shutil.rmtree(snap, ignore_errors=True)
    # three merge batches, deliberately NOT seq-ordered: final state
    # must be batching-invariant (tombstones retained ⇒ newest wins);
    # op_col engages the production config — tombstone counts kept in
    # the manifest per merge (metadata only: the oracle result is
    # op-agnostic, so the hash also certifies their upkeep is inert)
    for i in (2, 0, 1):
        bucketed_merge(changes.filter(F.col("seq") % 3 == i),
                       snapshot_dir=snap, primary_keys=["cust"],
                       order_by=[F.col("seq").desc()], n_buckets=16,
                       op_col="op")
    snapshot = read_bucketed_snapshot(spark, snap, op_col="op")
    if snapshot is None:   # empty change feed: no bucket ever written
        snapshot = changes.limit(0)
    return snapshot.select("cust",
                           F.col("seq").alias("last_seq"),
                           F.col("price").alias("last_price"),
                           F.col("status").alias("last_status"))


Q201_SQL = """
WITH ch AS (
  SELECT o_custkey AS cust, o_orderkey AS seq,
         o_totalprice AS price, o_orderstatus AS status,
         CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders
), latest AS (
  SELECT cust, seq, price, status, op,
         ROW_NUMBER() OVER (PARTITION BY cust ORDER BY seq DESC) AS rn
  FROM ch
)
SELECT cust, seq AS last_seq, price AS last_price, status AS last_status
FROM latest WHERE rn = 1 AND op <> 'D'
"""


# --------------------------------------------------------------------------
# Q40 — SimHash (md5-derived 60-bit token hash): explode→vote-sum→
# assemble plan, engine-portable hash, so every fingerprint bit is
# verified cross-engine
# --------------------------------------------------------------------------

def q40_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return simhash_table(docs, "doc_id", "text")


_Q40_VOTES = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS))
_Q40_BITS = "\n       + ".join(
    f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
    for b in range(SIMHASH_BITS))

# distinct bit positions → the + chain is exactly the bitwise OR
Q40_SQL = f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM t
), v AS (
  SELECT doc_id,
         {_Q40_VOTES}
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       {_Q40_BITS} AS simhash
FROM v
"""


# --------------------------------------------------------------------------
# Q39 — banded range join: clicks within the hour before each purchase
# (interval join re-keyed as (user, time-bucket) equi-join — SURVEY.md
# §2.3's declared range-join surface; naive theta form is a per-user
# cross product)
# --------------------------------------------------------------------------

def q39_range_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("event_id", "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", "ts"))
    j = range_join(purchases, clicks, on=["user_id"],
                   left_ts="ts", right_ts="ts",
                   lower_s=-3600, upper_s=0, prefix="click_")
    return (j.groupBy(F.col("event_id").alias("purchase_id"), F.col("user_id"))
             .agg(F.count(F.lit(1)).alias("n_clicks_1h"),
                  F.max(_ntz_micros("click_ts")).alias("last_click_us")))


Q39_SQL = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, p.user_id,
       COUNT(*) AS n_clicks_1h,
       epoch_us(max(c.ts)) AS last_click_us
FROM p JOIN c ON c.user_id = p.user_id
             AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
GROUP BY p.event_id, p.user_id
"""


# --------------------------------------------------------------------------
# Q48 — q39 through the STREAMING runtime: watermarked stream-stream
# interval join (purchases ⋈ clicks within [-1h, 0] on user), drained
# with AvailableNow, then a batch rollup per purchase. The bounded
# event-time condition is what lets the join evict buffered state —
# the property that makes this run unbounded at scale. Same oracle as
# q39: the streaming and batch range joins must agree row-for-row.
# --------------------------------------------------------------------------

def q48_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import (run_rollup_available_now,
                                    stream_interval_join)

    def src() -> DataFrame:
        # watermarks need instant TIMESTAMP (not NTZ): convert via epoch
        # micros, and extract unix_micros at the end so outputs stay
        # timezone-independent
        return (read_table_stream(spark, sf_dir, "events")
                .select("event_id", "user_id", "event_type",
                        ntz_to_instant("ts").alias("ts")))

    purchases = (src().filter(F.col("event_type") == "purchase")
                      .select("event_id", "user_id", "ts"))
    clicks = (src().filter(F.col("event_type") == "click")
                   .select("user_id", "ts"))
    j = stream_interval_join(purchases, clicks, on=["user_id"],
                             left_ts="ts", right_ts="ts",
                             lower_s=-3600, upper_s=0, prefix="click_")
    drained = run_rollup_available_now(j, output_mode="append",
                                       state_partitions=4)
    return (drained.groupBy(F.col("event_id").alias("purchase_id"),
                            F.col("user_id"))
                   .agg(F.count(F.lit(1)).alias("n_clicks_1h"),
                        F.max(F.unix_micros("click_ts")).alias("last_click_us")))


# --------------------------------------------------------------------------
# Q42 — corpus vocabulary: token frequency top-100 (explode → hash agg
# with map-side partials → TakeOrderedAndProject, i.e. per-partition
# top-k then driver merge — never a full global sort). The boundary tie
# at rank 100 breaks on the token itself, so the cutoff is
# deterministic across engines and partitionings.
# --------------------------------------------------------------------------

def q42_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return freq.orderBy(F.col("n").desc(), F.col("token")).limit(100)


Q42_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents WHERE trim(text) <> '')
GROUP BY token
ORDER BY n DESC, token
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q56 — near-dup GROUPS: connected components over q18's exact Jaccard
# pair graph (min-reachable-id labels via union-find, or star
# contraction above SMALL_GRAPH_EDGES).
# Pairs alone can't dedupe transitive clusters; the component id is the
# canonical survivor each member collapses to. The oracle re-derives
# the same pair graph and walks it with a recursive CTE.
# --------------------------------------------------------------------------

def q56_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components
    pairs = _q18_pairs(spark, sf_dir)
    return (connected_components(pairs)
            .select(F.col("id").alias("doc_id"), "component"))


# oracle: q18's pair derivation + a recursive reachability walk;
# component = min reachable doc_id (same labels min-propagation yields)
Q56_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes(0.2)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
"""


# --------------------------------------------------------------------------
# Q59 — the dedup user story end-to-end: near-dup pairs → components →
# canonical survivors. What a real curation pipeline runs nightly: the
# corpus minus every non-canonical member of every near-dup cluster.
# --------------------------------------------------------------------------

def q59_dedupe_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, keep_canonical
    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = _q18_pairs(spark, sf_dir)
    comps = connected_components(pairs)
    return (keep_canonical(docs, comps, "doc_id")
            .select("doc_id", "lang"))


Q59_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes(0.2)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
),
losers AS (
  SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
  WHERE id <> component
)
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT id FROM losers)
"""


# --------------------------------------------------------------------------
# Q60 — token-budget sharding: floor(global exclusive prefix-sum of
# token counts / budget) in doc_id order, computed as a DISTRIBUTED
# prefix sum (range partitions + within-partition window + broadcast
# offsets) — never a single global-order window. The oracle computes
# the same prefix with one ordered window, which DuckDB can afford.
# --------------------------------------------------------------------------

_SHARD_BUDGET = 5_000


def q60_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_shards
    docs = read_table(spark, sf_dir, "documents")
    return token_budget_shards(docs, "doc_id", n_tokens(F.col("text")),
                               budget=_SHARD_BUDGET)


Q60_SQL = f"""
WITH t AS (
  -- empty-doc guard: Spark counts 0 tokens for empty/whitespace text
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         END AS toks
  FROM documents
)
SELECT doc_id,
       CAST(floor((SUM(toks) OVER (ORDER BY doc_id) - toks) / {_SHARD_BUDGET})
            AS BIGINT) AS shard
FROM t
"""


# --------------------------------------------------------------------------
# Q61 — long-document chunking into overlapping token windows
# (map-only posexplode fan-out; the preprocessing between cleaning and
# tokenization). Chunk grid reproduced exactly by the oracle.
# --------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_OVERLAP = 40, 10


def q61_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import chunk_documents
    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text",
                           size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)


_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP
Q61_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok
  FROM documents
), s AS (
  SELECT doc_id, tok, len(tok) AS n FROM t WHERE len(tok) > 0
), st AS (
  SELECT doc_id, tok,
         unnest(range(0,
                      GREATEST(CAST(ceil((n - {_CHUNK_SIZE})
                                    / CAST({_CHUNK_STRIDE} AS DOUBLE)) AS BIGINT),
                               0) * {_CHUNK_STRIDE} + 1,
                      {_CHUNK_STRIDE})) AS start
  FROM s
)
SELECT doc_id,
       start // {_CHUNK_STRIDE} AS chunk_id,
       array_to_string(tok[start + 1:start + {_CHUNK_SIZE}], ' ') AS chunk_text,
       CAST(len(tok[start + 1:start + {_CHUNK_SIZE}]) AS BIGINT) AS n_chunk_tokens
FROM st
"""


# --------------------------------------------------------------------------
# Q126 — corpus-wide passage dedup + document reconstruction
# (operators.dedup.passage_dedupe): C4's boilerplate-removal step —
# keep only the first occurrence of every exact token-window passage
# across the corpus, then rebuild each document from its survivors
# (empty reconstruction preserved, not dropped). The oracle replays
# chunking, md5 ranking, and the ordered string_agg reassembly, so
# the RECONSTRUCTED TEXT itself is hash-gated, not just counts.
# --------------------------------------------------------------------------

_PASSAGE_SIZE = 8


def q126_passage_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import passage_dedupe
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return passage_dedupe(docs, "doc_id", "text", size=_PASSAGE_SIZE)


Q126_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok
  FROM documents
), s AS (
  SELECT doc_id, tok, len(tok) AS n FROM t WHERE len(tok) > 0
), st AS (
  SELECT doc_id, tok,
         unnest(range(0,
                      GREATEST(CAST(ceil((n - {_PASSAGE_SIZE})
                                    / CAST({_PASSAGE_SIZE} AS DOUBLE)) AS BIGINT),
                               0) * {_PASSAGE_SIZE} + 1,
                      {_PASSAGE_SIZE})) AS start
  FROM s
), c AS (
  SELECT doc_id, start // {_PASSAGE_SIZE} AS chunk_id,
         array_to_string(tok[start + 1:start + {_PASSAGE_SIZE}], ' ')
           AS chunk_text,
         len(tok[start + 1:start + {_PASSAGE_SIZE}]) AS nt
  FROM st
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                               ORDER BY doc_id, chunk_id) AS rn
  FROM c WHERE chunk_text <> ''
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept_chunks,
         CAST(SUM(nt) AS BIGINT) AS kept_tokens,
         string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text_kept
  FROM r WHERE rn = 1 GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.n_kept_chunks, 0) AS n_kept_chunks,
       COALESCE(a.kept_tokens, 0) AS kept_tokens,
       COALESCE(a.text_kept, '') AS text_kept
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------------
# Q127 — Bloom-filter pre-filter (operators.bloom): membership of every
# document's fingerprint against a corpus-subset filter, reported as
# the (bloom_hit × exact_member) confusion matrix. The artifact shape
# 100 TB dedupe needs: the filter is m_bits/8 bytes regardless of
# corpus size, broadcasts into a map-side probe (the probe side never
# shuffles), and NO-false-negative is structural. Bit positions are
# md5-derived, so the oracle replays every bit — including the
# deterministic false positives; the gate checks the filter's exact
# operating point, not just its happy path.
# --------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K, _BLOOM_SEED = 1 << 14, 4, 7


def q127_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_apply, bloom_fit
    d = read_table(spark, sf_dir, "documents") \
        .select("doc_id", F.md5("text").alias("fp"))
    corpus = d.filter(F.col("doc_id") % 5 != 0).select("fp").distinct()
    bloom = bloom_fit(corpus, "fp", m_bits=_BLOOM_M, k=_BLOOM_K,
                      seed=_BLOOM_SEED)
    flagged = bloom_apply(d, "fp", bloom, m_bits=_BLOOM_M, k=_BLOOM_K,
                          seed=_BLOOM_SEED)
    exact = (flagged.join(corpus.withColumn("_m", F.lit(True)),
                          "fp", "left")
                    .withColumn("exact_member",
                                F.coalesce(F.col("_m"), F.lit(False))))
    return (exact.groupBy("bloom_hit", "exact_member")
                 .agg(F.count(F.lit(1)).alias("n")))


def _q127_pos(i: int) -> str:
    from ..operators.bloom import bloom_sql_bits
    return bloom_sql_bits("fp", i, _BLOOM_M, _BLOOM_SEED)


Q127_SQL = f"""
WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
corpus AS (SELECT DISTINCT fp FROM d WHERE doc_id % 5 <> 0),
cbits AS (
  SELECT pos // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM (
    {" UNION ALL ".join(f"SELECT {_q127_pos(i)} AS pos FROM corpus"
                        for i in range(_BLOOM_K))})
  GROUP BY 1),
probe_k AS (
  SELECT doc_id, fp, pos
  FROM d, unnest([{", ".join(_q127_pos(i) for i in range(_BLOOM_K))}])
       AS u(pos)),
chk AS (
  SELECT doc_id, fp,
         SUM(CASE WHEN (COALESCE(b.bits, 0)
                        & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) <> 0
                  THEN 1 ELSE 0 END) AS n_ok
  FROM probe_k LEFT JOIN cbits b ON b.word_idx = pos // 32
  GROUP BY 1, 2),
labeled AS (
  SELECT c.doc_id, c.n_ok = {_BLOOM_K} AS bloom_hit,
         EXISTS (SELECT 1 FROM corpus x WHERE x.fp = c.fp) AS exact_member
  FROM chk c)
SELECT bloom_hit, exact_member, COUNT(*) AS n
FROM labeled GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Q128 — count-min frequency estimation (operators.sketches): per-user
# event counts estimated from a 4×256-cell sketch, reported against
# the exact counts for a fixed probe set. The mergeable-summary shape
# for heavy-tailed key spaces (state is depth·width integers, cells
# merge by addition); md5 row hashes let the oracle replay every cell
# and estimate, so the one-sided error (est ≥ exact, structural) is
# gate-checked at its exact operating point, not assumed.
# --------------------------------------------------------------------------

_CMS_D, _CMS_W, _CMS_SEED = 4, 256, 11


def q128_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_estimate, cms_fit
    ev = read_table(spark, sf_dir, "events")
    cms = cms_fit(ev, "user_id", depth=_CMS_D, width=_CMS_W,
                  seed=_CMS_SEED)
    probes = (ev.filter(F.col("user_id") < 20)
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("exact_n")))
    est = cms_estimate(probes, "user_id", cms, depth=_CMS_D,
                       width=_CMS_W, seed=_CMS_SEED)
    return est.select("user_id", "exact_n", "est_n",
                      (F.col("est_n") - F.col("exact_n")).cast("long")
                       .alias("overcount"))


def _q128_col(row: int) -> str:
    from ..operators.sketches import cms_sql_col
    return cms_sql_col("CAST(user_id AS VARCHAR)", row, _CMS_W, _CMS_SEED)


Q128_SQL = f"""
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
cells AS (
  SELECT c.row, c.col, CAST(SUM(n) AS BIGINT) AS cnt
  FROM per_key, LATERAL (
    {" UNION ALL ".join(f"SELECT {r} AS row, {_q128_col(r)} AS col"
                        for r in range(_CMS_D))}) AS c(row, col)
  GROUP BY 1, 2),
probes AS (
  SELECT user_id, COUNT(*) AS exact_n FROM events
  WHERE user_id < 20 GROUP BY 1),
est AS (
  SELECT p.user_id, p.exact_n,
         MIN(COALESCE(ce.cnt, 0)) AS est_n
  FROM probes p, LATERAL (
    {" UNION ALL ".join(f"SELECT {r} AS row, {_q128_col(r)} AS col"
                        for r in range(_CMS_D))}) AS c(row, col)
  LEFT JOIN cells ce ON ce.row = c.row AND ce.col = c.col
  GROUP BY 1, 2)
SELECT user_id, exact_n, CAST(est_n AS BIGINT) AS est_n,
       CAST(est_n - exact_n AS BIGINT) AS overcount
FROM est
"""


# --------------------------------------------------------------------------
# Q130 — the custom Python DataSource under the oracle gate: an hourly
# rollup over 200k seedgen-GENERATED rows (sources/generate.py — no
# table, no disk, executor-side Arrow batches), hash-checked against a
# DuckDB oracle that REPLAYS THE GENERATOR: splitmix64 re-implemented
# in SQL via 32-bit split multiplication mod 2^64 (64×64-bit products
# overflow INT128, so each multiply is (lo·c + ((hi·c) mod 2^32)·2^32)
# mod 2^64). A hash match here certifies the connector end-to-end —
# schema mapping, Arrow batch path, partition ranges, value
# derivation — against an independent engine.
# --------------------------------------------------------------------------

_GEN_ROWS, _GEN_SEED = 200_000, 7


def q130_generated_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generate import SeedGen
    spark.dataSource.register(SeedGen)
    df = (spark.read.format("seedgen")
               .option("rows", _GEN_ROWS).option("seed", _GEN_SEED)
               .option("partitions", 32).load())
    return (df.groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH:mm:ss").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,4)"))
                    .cast("double").alias("total_value"),
                   F.countDistinct("user_id").alias("n_users")))


_M64 = 1 << 64


def _mulmod64(x: str, c: int) -> str:
    return (f"((({x}) % 4294967296) * {c} % {_M64} + "
            f"((({x}) // 4294967296) * {c} % 4294967296) * 4294967296)"
            f" % {_M64}")


def _xorshift(x: str, s: int) -> str:
    return (f"CAST(xor(CAST(({x}) AS UBIGINT), "
            f"CAST(({x}) AS UBIGINT) >> {s}) AS HUGEINT)")


def _splitmix_sql(seed: int) -> str:
    # the stream base (one splitmix of the seed) is a COMPILE-TIME
    # constant — the per-row mix over base ^ i is what the SQL replays
    from ..sources.generate import _stream_base
    base = _stream_base(seed)
    x0 = (f"CAST(xor(CAST({base} AS UBIGINT), CAST(i AS UBIGINT)) "
          f"AS HUGEINT)")
    a = f"(({x0}) + 11400714819323198485) % {_M64}"
    b = _xorshift(a, 30)
    c = _mulmod64(b, 13787848793156543929)
    d = _xorshift(c, 27)
    e = _mulmod64(d, 10723151780598845931)
    return _xorshift(e, 31)


Q130_SQL = f"""
WITH ids AS (SELECT unnest(range(0, {_GEN_ROWS})) AS i),
rows_ AS (
  SELECT i, {_splitmix_sql(_GEN_SEED)} AS h,
         TIMESTAMP '2024-01-01' + (i % 31536000) * INTERVAL 1 SECOND AS ts
  FROM ids),
vals AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         h % 10000 AS user_id,
         CAST((CAST(h AS UBIGINT) >> 16) % 1000000 AS DOUBLE) / 100.0
           AS value
  FROM rows_)
SELECT hour, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM vals GROUP BY hour
"""


# --------------------------------------------------------------------------
# Q131 — portable HyperLogLog (operators.sketches.hll_fit/estimate),
# completing the sketch trilogy (Bloom membership, count-min
# frequency, HLL cardinality): distinct users estimated from 1024
# max-rank registers. Unlike q36's approx_count_distinct (opaque
# HLL++, rows-only checkable), every register AND the estimate are
# md5-derived with exact-integer internals, so the oracle reproduces
# the approximate answer bit-for-bit — the estimate's exact operating
# point is gated, alongside the exact count for the honesty check.
# --------------------------------------------------------------------------

def q131_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_estimate, hll_fit
    ev = read_table(spark, sf_dir, "events") \
        .select(F.col("user_id").cast("string").alias("k"))
    est = hll_estimate(hll_fit(ev, "k"))
    exact = ev.agg(F.countDistinct("k").alias("n_exact"))
    # no data → no cardinality report (and no 0/0 under ANSI)
    return (est.crossJoin(F.broadcast(exact))
               .filter(F.col("n_exact") > 0)
               .select("n_exact", "n_hll",
                       F.round(F.abs(F.col("n_hll") - F.col("n_exact"))
                               / F.col("n_exact"), 6).alias("rel_err")))


def _q131_sql() -> str:
    from ..operators.sketches import hll_sql
    inner = hll_sql("CAST(user_id AS VARCHAR)", "FROM events")
    return f"""
WITH hll AS ({inner}),
exact AS (SELECT COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS n_exact
          FROM events)
SELECT n_exact, n_hll,
       ROUND(ABS(n_hll - n_exact) / n_exact, 6) AS rel_err
FROM hll, exact WHERE n_exact > 0
"""


Q131_SQL = _q131_sql()


# --------------------------------------------------------------------------
# Q136 — STREAMING-MAINTAINED sketch state (the sketch family meets
# the streaming runtime): per-event-type HLL registers are maintained
# BY THE STATE STORE — the stream groupBy(event_type, bucket).max(r)
# is incremental register maintenance, the exact shape a continuous
# 100 TB distinct-count dashboard runs (bounded state: ≤ m registers
# per group, no raw keys retained). The drained registers are then
# estimated per group and hash-checked against the batch oracle —
# certifying that streaming state maintenance converges to the exact
# batch sketch, register-for-register (max is order-insensitive, so
# ANY micro-batch layout must land on the same registers).
# --------------------------------------------------------------------------

def q136_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import _hll_bucket_rank, hll_estimate_grouped
    from ..streaming.stream import run_rollup_available_now

    src = read_table_stream(spark, sf_dir, "events")
    bucket, rank = _hll_bucket_rank(F.col("user_id").cast("string"))
    regs = (src.select("event_type", bucket.alias("bucket"),
                       rank.alias("_r"))
               .groupBy("event_type", "bucket")
               .agg(F.max("_r").alias("r")))
    final_regs = run_rollup_available_now(regs, state_partitions=4)
    est = hll_estimate_grouped(final_regs, ["event_type"])
    exact = (read_table(spark, sf_dir, "events")
             .groupBy("event_type")
             .agg(F.countDistinct(F.col("user_id").cast("string"))
                   .alias("n_exact")))
    return (est.join(exact, "event_type")
               .filter(F.col("n_exact") > 0)
               .select("event_type", "n_exact", "n_hll",
                       F.round(F.abs(F.col("n_hll") - F.col("n_exact"))
                               / F.col("n_exact"), 6).alias("rel_err")))


def _q136_sql() -> str:
    from ..operators.sketches import hll_sql_grouped
    inner = hll_sql_grouped("CAST(user_id AS VARCHAR)", "event_type",
                            "FROM events")
    return f"""
WITH hll AS ({inner}),
exact AS (SELECT event_type,
                 COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS n_exact
          FROM events GROUP BY event_type)
SELECT h.event_type, n_exact, n_hll,
       ROUND(ABS(n_hll - n_exact) / n_exact, 6) AS rel_err
FROM hll h JOIN exact e ON h.event_type = e.event_type
WHERE n_exact > 0
"""


Q136_SQL = _q136_sql()


# --------------------------------------------------------------------------
# Q138 / Q139 — SEQUENCE PACKING (operators.packing): the step that
# turns a curated corpus into fixed-length training windows. q138 is
# GPT-style concatenate-and-chunk (documents span window boundaries;
# pure hash-shard + per-shard prefix-sum window algebra — one shuffle,
# no driver state). q139 is whole-document greedy bin packing, whose
# running (bin, fill) state RESETS on overflow — not expressible as a
# window function, so the Spark side is a per-shard applyInPandas scan
# and the DuckDB oracle replays the same scan as a recursive CTE
# advancing every shard in lockstep. Both orders derive from portable
# md5 hashes, so the "corpus shuffle" is deterministic and both
# engines see identical shard membership, order, and assignments.
# --------------------------------------------------------------------------

def q138_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_concat_chunk
    docs = read_table(spark, sf_dir, "documents")
    counted = docs.select("doc_id",
                          F.size(tokens(F.col("text"))).alias("_n"))
    return pack_concat_chunk(counted, "doc_id", F.col("_n"),
                             ctx_len=_PACK_CTX, n_shards=_PACK_SHARDS,
                             seed=_PACK_SEED)


Q138_SQL = f"""
WITH {_PACK_BASE},
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum
  FROM hashes)
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR(cum / {_PACK_CTX}) AS BIGINT) AS seq_first,
       CAST(CASE WHEN n_tokens > 0
                 THEN FLOOR((cum + n_tokens - 1) / {_PACK_CTX})
                 ELSE FLOOR(cum / {_PACK_CTX}) END AS BIGINT) AS seq_last,
       cum % {_PACK_CTX} AS offset
FROM c
"""


def q139_greedy_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_greedy_bins
    docs = read_table(spark, sf_dir, "documents")
    counted = docs.select("doc_id",
                          F.size(tokens(F.col("text"))).alias("_n"))
    return pack_greedy_bins(counted, "doc_id", F.col("_n"),
                            ctx_len=_PACK_CTX, n_shards=_PACK_SHARDS,
                            seed=_PACK_SEED)


Q139_SQL = f"""
WITH RECURSIVE {_PACK_BASE},
ordered AS MATERIALIZED (
  SELECT doc_id, shard, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
  FROM hashes),
scan AS (
  SELECT doc_id, shard, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin, n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
         CASE WHEN s.fill > 0 AND s.fill + o.n_tokens > {_PACK_CTX}
              THEN s.bin + 1 ELSE s.bin END,
         CASE WHEN s.fill > 0 AND s.fill + o.n_tokens > {_PACK_CTX}
              THEN o.n_tokens ELSE s.fill + o.n_tokens END
  FROM scan s JOIN ordered o ON o.shard = s.shard AND o.rn = s.rn + 1)
SELECT doc_id, n_tokens, shard, bin, fill AS fill_after
FROM scan
"""


# --------------------------------------------------------------------------
# Q140 — HLL SET ALGEBRA for cross-corpus overlap: estimate the
# shingle-set overlap between the train and test splits from two
# constant-size sketches — the cheap contamination triage a 100 TB
# pipeline runs BEFORE committing to exact decontamination (q58).
# |A∪B| comes from REGISTER MERGE (groupBy(bucket).max(r) over both
# sides' registers — the mergeability that makes the sketch
# distributable is the thing under test), |A∩B| from inclusion-
# exclusion. Exact distinct counts ride alongside, so the row also
# certifies the estimator's error. Every register and every estimate
# replays exactly in DuckDB (exact-integer HLL internals).
# --------------------------------------------------------------------------

def q140_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_shingles
    from ..operators.sampling import assign_split
    from ..operators.sketches import (_hll_bucket_rank, hll_estimate,
                                      hll_estimate_grouped)

    docs = read_table(spark, sf_dir, "documents")
    sh = (assign_split(docs, "doc_id")
          .select("split", F.explode(word_shingles(F.col("text"), k=3))
                  .alias("s")))
    bucket, rank = _hll_bucket_rank(F.col("s"))
    # one pass builds BOTH sides' registers (≤ 2m rows of bounded
    # state); localCheckpoint so the three consumers below don't
    # re-shingle the corpus (AQE runs its shuffle at build; a
    # register_cache ran 1.2x slower)
    regs = (sh.select("split", bucket.alias("bucket"), rank.alias("_r"))
              .groupBy("split", "bucket").agg(F.max("_r").alias("r"))
              .localCheckpoint(eager=False))
    per_side = hll_estimate_grouped(regs, ["split"])
    union_est = hll_estimate(
        regs.groupBy("bucket").agg(F.max("r").alias("r")))
    exact = (sh.groupBy("split").agg(F.countDistinct("s").alias("n_ex")))
    exact_union = sh.agg(F.countDistinct("s").alias("n_union_exact"))

    def side(df, name, col, out):
        return df.filter(F.col("split") == name) \
                 .select(F.col(col).alias(out))

    est = (side(per_side, "train", "n_hll", "n_train_hll")
           .crossJoin(side(per_side, "test", "n_hll", "n_test_hll"))
           .crossJoin(union_est.select(F.col("n_hll").alias("n_union_hll")))
           .crossJoin(side(exact, "train", "n_ex", "n_train_exact"))
           .crossJoin(side(exact, "test", "n_ex", "n_test_exact"))
           .crossJoin(exact_union))
    inter_hll = (F.col("n_train_hll") + F.col("n_test_hll")
                 - F.col("n_union_hll"))
    inter_ex = (F.col("n_train_exact") + F.col("n_test_exact")
                - F.col("n_union_exact"))
    from ..functions.deterministic import rnd0
    return est.select(
        "n_train_hll", "n_test_hll", "n_union_hll",
        # inclusion-exclusion can dip (tiny) negative: canonicalize
        # the -0.0 string form on BOTH engines (rnd0 contract)
        rnd0(inter_hll, 4).alias("n_intersect_hll"),
        "n_train_exact", "n_test_exact", "n_union_exact",
        inter_ex.cast("long").alias("n_intersect_exact"),
        rnd0(inter_hll / F.col("n_union_hll"), 6).alias("jaccard_hll"))


def _q140_sql() -> str:
    from ..operators.sketches import hll_sql, hll_sql_grouped
    shingles = """
sh AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                            || '#7'), 1, 15)) AS BIGINT)
                   % 1000 < 100
              THEN 'test' ELSE 'train' END AS split,
         unnest(list_distinct([
           list_aggregate(tok[i:i+2], 'string_agg', ' ')
           FOR i IN range(1, greatest(len(tok) - 2, 0) + 1)
         ])) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM documents))
"""
    grouped = hll_sql_grouped("s", "split", "FROM sh")
    union = hll_sql("s", "FROM sh")
    return f"""
WITH {shingles},
per_side AS ({grouped}),
uni AS ({union}),
ex AS (SELECT split, COUNT(DISTINCT s) AS n_ex FROM sh GROUP BY split),
exu AS (SELECT COUNT(DISTINCT s) AS n_union_exact FROM sh),
row1 AS (
  SELECT (SELECT n_hll FROM per_side WHERE split = 'train') AS n_train_hll,
         (SELECT n_hll FROM per_side WHERE split = 'test') AS n_test_hll,
         (SELECT n_hll FROM uni) AS n_union_hll,
         (SELECT n_ex FROM ex WHERE split = 'train') AS n_train_exact,
         (SELECT n_ex FROM ex WHERE split = 'test') AS n_test_exact,
         (SELECT n_union_exact FROM exu) AS n_union_exact)
SELECT n_train_hll, n_test_hll, n_union_hll,
       (ROUND(n_train_hll + n_test_hll - n_union_hll, 4) + 0.0)
         AS n_intersect_hll,
       n_train_exact, n_test_exact, n_union_exact,
       CAST(n_train_exact + n_test_exact - n_union_exact AS BIGINT)
         AS n_intersect_exact,
       (ROUND((n_train_hll + n_test_hll - n_union_hll) / n_union_hll, 6)
        + 0.0) AS jaccard_hll
FROM row1
"""


Q140_SQL = _q140_sql()


# --------------------------------------------------------------------------
# Q62 — deterministic mixture sampling: per-language keep rates (keep
# all non-English, downsample English to ~25%) with hash membership —
# the corpus-mixture rebalancing step, reproducible by any engine with
# md5. First-match strata semantics; the oracle recomputes every
# hash decision.
# --------------------------------------------------------------------------

_MIX_RATES = (("en", 250),)  # permille per lang; others keep everything
_MIX_DEFAULT = 1000


def q62_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample
    docs = read_table(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, "doc_id",
        [(F.col("lang") == lang, pm) for lang, pm in _MIX_RATES],
        default_permille=_MIX_DEFAULT)
    return kept.select("doc_id", "lang")


_MIX_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {pm}" for lang, pm in _MIX_RATES) \
    + f" ELSE {_MIX_DEFAULT} END"
Q62_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 15))
           AS BIGINT) % 1000 < {_MIX_CASE}
"""


# --------------------------------------------------------------------------
# Q57 — deterministic hash-based train/test split (operators.sampling):
# membership is a pure function of (doc_id, seed), so the split is
# stable under corpus growth, repartitioning, and reruns — and the
# oracle re-derives every assignment from the same md5 arithmetic.
# --------------------------------------------------------------------------

def q57_portable_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import assign_split
    docs = read_table(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id").select("doc_id", "split")


Q57_SQL = """
SELECT doc_id,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 15))
                      AS BIGINT) % 1000 < 100
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


# --------------------------------------------------------------------------
# Q58 — benchmark decontamination: corpus docs whose shingle
# CONTAINMENT of a benchmark doc (shared / bench shingles) reaches 0.5.
# Bench side simulated as every 10th doc. Inverted-index join across
# the two corpora; the oracle recomputes containment set-exactly.
# --------------------------------------------------------------------------

def q58_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cross_corpus_containment
    docs = read_table(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return cross_corpus_containment(corpus, bench, k=3, threshold=0.5)


# Scale-capable replay (fits the sf1 oracle budget): the original
# corpus x benchmark join ran list_intersect on all
# 45k x 5k pairs at sf1. Containment >= 0.5 > 0 requires >= 1 shared
# shingle, so a postings join + per-pair COUNT produces the exact same
# integer intersection sizes (shingle lists are list_distinct), hence
# bit-identical containment doubles, at sum-over-shared-shingles cost.
Q58_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([
           list_aggregate(tok[i:i+2], 'string_agg', ' ')
           FOR i IN range(1, greatest(len(tok) - 2, 0) + 1)
         ]) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM documents)
),
c AS (SELECT doc_id AS corpus_id, sh FROM sh WHERE doc_id % 10 <> 0 AND len(sh) > 0),
b AS (SELECT doc_id AS bench_id, sh, len(sh) AS nb FROM sh
      WHERE doc_id % 10 = 0 AND len(sh) > 0),
ci AS (SELECT corpus_id, unnest(sh) AS s FROM c),
bi AS (SELECT bench_id, nb, unnest(sh) AS s FROM b),
common AS (
  SELECT ci.corpus_id, bi.bench_id, ANY_VALUE(bi.nb) AS nb,
         COUNT(*) AS cnt
  FROM ci JOIN bi USING (s)
  GROUP BY ci.corpus_id, bi.bench_id
)
SELECT corpus_id, bench_id, cnt / nb AS containment
FROM common WHERE cnt / nb >= 0.5
"""


# --------------------------------------------------------------------------
# Q63 — repetition quality signals (the Gopher/MassiveText repetition
# filters): most-frequent-token fraction, most-frequent-bigram
# fraction, duplicated-token-occurrence fraction. DEFAULT SHAPE: the
# LINEAR explode + two-level aggregation
# (operators.textstats.repetition_stats_linear) — per-row cost O(n)
# in document length, shuffle bounded by distinct (doc, gram). The
# per-row higher-order form (top_count/singleton_count, O(distinct·n)
# per row but zero shuffle) remains in operators.textstats as the
# bounded-short-document fast path; it hash-matches this same oracle
# as twin q116, which certifies the two shapes interchangeable. The
# oracle recomputes each signal with DuckDB list lambdas over the same
# tokenization.
# --------------------------------------------------------------------------

def q63_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import repetition_stats_linear
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return repetition_stats_linear(docs, "doc_id", "text")


Q63_SQL = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok
  FROM documents
), big AS (
  SELECT doc_id, tok,
         CASE WHEN len(tok) < 2 THEN []::VARCHAR[]
              ELSE list_transform(list_zip(tok[1:len(tok)-1], tok[2:len(tok)]),
                                  p -> p[1] || ' ' || p[2]) END AS bg
  FROM toks
)
SELECT doc_id,
  CAST(len(tok) AS BIGINT) AS n_tokens,
  ROUND(CASE WHEN len(tok) = 0 THEN 0.0 ELSE
    list_max(list_transform(list_distinct(tok),
                            x -> len(list_filter(tok, y -> y = x))))
      / len(tok) END, 6) AS top_token_frac,
  ROUND(CASE WHEN len(bg) = 0 THEN 0.0 ELSE
    list_max(list_transform(list_distinct(bg),
                            x -> len(list_filter(bg, y -> y = x))))
      / len(bg) END, 6) AS top_bigram_frac,
  ROUND(CASE WHEN len(tok) = 0 THEN 0.0 ELSE
    (len(tok) - len(list_filter(list_distinct(tok),
                                x -> len(list_filter(tok, y -> y = x)) = 1)))
      / len(tok) END, 6) AS dup_token_frac
FROM big
"""


# --------------------------------------------------------------------------
# Q116 — equivalence twin of q63, against the SAME oracle. The
# linear explode+agg shape is q63's default, so THIS entry carries
# the per-row higher-order form (top_count/singleton_count —
# O(distinct·n) per row, zero shuffle: the bounded-SHORT-document fast
# path). Keeping both shapes gated
# against one oracle is what certifies they stay interchangeable; the
# registry name marks the twin slot (the linear shape is q63's).
# --------------------------------------------------------------------------

def q116_repetition_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import bigrams, singleton_count, top_count
    docs = read_table(spark, sf_dir, "documents", spread=True)
    base = docs.select("doc_id", tokens(F.col("text")).alias("_tok"))
    b = base.select("doc_id", "_tok", bigrams(F.col("_tok")).alias("_big"))
    n, nb = F.size("_tok"), F.size("_big")
    top_tok = F.when(n == 0, F.lit(0.0)) \
               .otherwise(top_count(F.col("_tok")) / n)
    top_big = F.when(nb == 0, F.lit(0.0)) \
               .otherwise(top_count(F.col("_big")) / nb)
    dup_tok = F.when(n == 0, F.lit(0.0)) \
               .otherwise((n - singleton_count(F.col("_tok"))) / n)
    return b.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(top_tok, 6).alias("top_token_frac"),
        F.round(top_big, 6).alias("top_bigram_frac"),
        F.round(dup_tok, 6).alias("dup_token_frac"))


# --------------------------------------------------------------------------
# Q119 — per-source budget curation (operators.sampling.budget_select):
# within each source, keep the highest-scoring documents whose running
# cost stays inside the budget — the mixture-building step between
# quality scoring and shard writing ("fill N tokens per domain,
# best-first"). Score here is n_chars (a stand-in: production plugs a
# model/textstat score into score_col); cost is n_chars; greedy-prefix
# semantics documented on the operator. One window shuffle on source.
# --------------------------------------------------------------------------

_Q119_BUDGET = 4_000


def q119_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import budget_select
    docs = read_table(spark, sf_dir, "documents")
    sel = budget_select(docs.select("doc_id", "source", "n_chars"),
                        "source", F.col("n_chars"), F.col("n_chars"),
                        _Q119_BUDGET, order_tiebreak="doc_id")
    return sel.select("doc_id", "source", "n_chars", "cum_cost")


Q119_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_cost
  FROM documents)
SELECT doc_id, source, n_chars, CAST(cum_cost AS BIGINT) AS cum_cost
FROM ranked WHERE cum_cost <= {_Q119_BUDGET}
"""


# --------------------------------------------------------------------------
# Q64 — int8 embedding quantization (operators.similarity.quantize_int8):
# per-vector symmetric scale, half-up integer codes, reconstruction
# MSE. The code array is emitted as a CSV string so the gate
# hash-compares every code value exactly across engines (list
# stringification differs between numpy and DuckDB); integer checksums
# ride along.
# --------------------------------------------------------------------------

def q64_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_int8
    emb = read_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb, id_col="vec_id", vec_col="embedding")
    return q.select(
        "vec_id",
        F.concat_ws(",", F.transform("code", lambda x: x.cast("string")))
         .alias("code_csv"),
        "scale", "code_sum", "code_l1", "mse")


Q64_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> abs(x))) AS amax
  FROM embeddings
), coded AS (
  SELECT vec_id, v, amax,
         CASE WHEN amax = 0.0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(x / (amax / 127.0) + 0.5)
                                               AS BIGINT)) END AS code
  FROM v
)
SELECT vec_id,
  list_aggregate(list_transform(code, x -> CAST(x AS VARCHAR)),
                 'string_agg', ',') AS code_csv,
  ROUND(amax / 127.0, 6) AS scale,
  CAST(list_sum(code) AS BIGINT) AS code_sum,
  CAST(list_sum(list_transform(code, x -> abs(x))) AS BIGINT) AS code_l1,
  ROUND(CASE WHEN len(v) = 0 THEN 0.0 ELSE
    list_sum(list_transform(range(1, len(v) + 1),
             i -> (code[i] * (amax / 127.0) - v[i])
                  * (code[i] * (amax / 127.0) - v[i]))) / len(v) END, 6) AS mse
FROM coded
"""


# --------------------------------------------------------------------------
# Q66 — top-k TF-IDF terms per document (operators.textstats
# .tfidf_top_terms): keyword extraction before clustering/relevance
# filtering. tf from explode+groupBy, df as a window count over the
# (doc, term)-distinct tf table, N as a broadcast scalar subquery.
# --------------------------------------------------------------------------

def q66_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import tfidf_top_terms
    docs = read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=5)


Q66_SQL = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok
  FROM documents
), t AS (
  SELECT doc_id, unnest(tok) AS token FROM toks
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
sc AS (
  SELECT doc_id, token, tf,
         ROUND(tf * ln((n_docs + 1.0)
                       / (COUNT(*) OVER (PARTITION BY token) + 1.0)),
               6) AS tfidf
  FROM tf, n
)
SELECT doc_id, token, tf, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rn
      FROM sc)
WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# Q67 — Lloyd's k-means over embeddings (operators.similarity
# .fit_pq_artifact with m=1, served by kmeans_assign_serve): md5-seeded
# init, one grid-exact centroid update, final assignment. The oracle
# re-derives the seeds, replays the identical update (long sums on a
# 1e-6 grid → order-independent means), and re-assigns — every cell id
# and distance hash-checked cross-engine.
# --------------------------------------------------------------------------

def q67_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FIT/SERVE SPLIT: centroids come from the persisted artifact
    # (_km_artifact — fitted once per dataset); this plan is ONE
    # map-only assignment pass, zero training jobs. The oracle still
    # re-derives the centroids from the data (same deterministic
    # recipe), so the gate certifies artifact == fresh fit.
    from ..operators.similarity import kmeans_assign_serve
    emb = read_table(spark, sf_dir, "embeddings")
    art = _km_artifact(spark, sf_dir)
    if art is None:
        return (emb.limit(0).select(F.col("vec_id"))
                   .withColumn("cell", F.lit(0))
                   .withColumn("dist", F.lit(0.0)))
    return kmeans_assign_serve(emb, art)


Q67_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
seeds AS (
  SELECT v AS cv,
         ROW_NUMBER() OVER (
           ORDER BY CAST(('0x' || substr(md5(vec_id || '#7'), 1, 15)) AS BIGINT),
                    vec_id) - 1 AS cell
  FROM e
  QUALIFY cell < 8
),
d1 AS (
  SELECT e.vec_id, e.v, s.cell,
         list_sum(list_transform(list_zip(e.v, s.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM e CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, v, cell
  FROM (SELECT vec_id, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d1)
  WHERE rn = 1
),
u AS (
  SELECT a.cell, generate_subscripts(a.v, 1) AS i, unnest(a.v) AS x
  FROM a1 a
),
upd AS (
  SELECT cell, i,
         SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM u GROUP BY cell, i
),
cent2 AS (
  SELECT sd.cell,
         COALESCE(list(up.s / (1000000.0 * up.n) ORDER BY up.i)
                    FILTER (WHERE up.i IS NOT NULL),
                  sd.cv) AS cv
  FROM seeds sd LEFT JOIN upd up ON sd.cell = up.cell
  GROUP BY sd.cell, sd.cv
),
d2 AS (
  SELECT e.vec_id, c.cell,
         list_sum(list_transform(list_zip(e.v, c.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM e CROSS JOIN cent2 c
)
SELECT vec_id, CAST(cell AS INTEGER) AS cell, ROUND(dist, 6) AS dist
FROM (SELECT vec_id, cell, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
      FROM d2)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Q71 — exact edit-distance near-dup pairs over the item-name
# dictionary (operators.dedup.edit_distance_pairs): the fuzzy matching
# the reference's one-regex-at-a-time clean_item_name implies (U4,
# go-transform-elt.py). Filter-verify: distinct-gram inverted index +
# length band, thresholded levenshtein verify; run on the DISTINCT
# name domain, never the fact rows.
# --------------------------------------------------------------------------

def q71_name_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import edit_distance_pairs
    part = read_table(spark, sf_dir, "part")
    names = part.select(F.lower(F.trim("p_name")).alias("nm")).distinct()
    pairs = edit_distance_pairs(names, "nm", "nm", max_dist=2, q=2)
    return pairs.select(F.col("id_a").alias("name_a"),
                        F.col("id_b").alias("name_b"), "dist")


Q71_SQL = """
WITH n AS (SELECT DISTINCT lower(trim(p_name)) AS nm FROM part)
SELECT a.nm AS name_a, b.nm AS name_b,
       CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
FROM n a JOIN n b
  ON a.nm < b.nm AND abs(length(a.nm) - length(b.nm)) <= 2
WHERE levenshtein(a.nm, b.nm) <= 2
"""


# --------------------------------------------------------------------------
# Q75 — feature-hashing text vectorizer (operators.textstats
# .hashing_trick_vectors): vocabulary-free signed-count embedding,
# bucket/sign from the md5-derived portable hash so the oracle
# re-derives every vector component. Map-only scan-transform (zero
# shuffle); vec emitted as CSV so every integer component is
# hash-compared exactly.
# --------------------------------------------------------------------------

def q75_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import hashing_trick_vectors
    docs = read_table(spark, sf_dir, "documents")
    v = hashing_trick_vectors(docs, "doc_id", "text", dim=64, seed=7)
    return v.select(
        "doc_id",
        F.concat_ws(",", F.transform("vec", lambda x: x.cast("string")))
         .alias("vec_csv"),
        "sq_norm", "l1_norm")


Q75_SQL = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok
  FROM documents
), t AS (
  SELECT doc_id, unnest(tok) AS tk FROM toks
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tk || '#7'), 1, 15)) AS BIGINT) % 64 AS b,
         CASE WHEN CAST(('0x' || substr(md5(tk || '#7'), 1, 15)) AS BIGINT)
                   % 128 < 64 THEN 1 ELSE -1 END AS sgn
  FROM t
), agg AS (
  SELECT doc_id, b, CAST(SUM(sgn) AS BIGINT) AS v
  FROM h GROUP BY doc_id, b
), dense AS (
  SELECT d.doc_id, r.i, COALESCE(a.v, 0) AS v
  FROM (SELECT DISTINCT doc_id FROM toks) d
  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) r
  LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.b = r.i
)
SELECT doc_id,
       string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS vec_csv,
       CAST(SUM(v * v) AS BIGINT) AS sq_norm,
       CAST(SUM(abs(v)) AS BIGINT) AS l1_norm
FROM dense GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Q76 — product quantization (operators.similarity.product_quantize:
# fit_pq_artifact, then the shared encoder): 4 subspaces × 16 cells over
# the embeddings — 2 bytes per 64-dim vector. Every subspace replays
# q67's k-means recipe (md5-seeded init, one grid-exact update, final
# assign); the oracle runs ALL subspaces in one SQL by adding a
# subspace dimension to the q67 chain. Codes as CSV + per-vector summed
# distortion, all hash-checked.
# --------------------------------------------------------------------------

def q76_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import product_quantize
    emb = read_table(spark, sf_dir, "embeddings")
    q = product_quantize(emb, m=4, k=16, n_iter=2, seed=7)
    return q.select(
        "vec_id",
        F.concat_ws(",", F.transform("codes", lambda x: x.cast("string")))
         .alias("codes_csv"),
        "dist")


# Shared PQ oracle chain (through per-vector codes in a2) — Q76 reads
# the codes directly; Q77 extends it with ADC lookup-table scoring.
_PQ_CHAIN = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dims AS (SELECT len(v) // 4 AS w FROM e LIMIT 1),
subs AS (SELECT unnest(range(0, 4)) AS s),
se AS (
  SELECT e.vec_id, subs.s,
         e.v[subs.s * dims.w + 1 : (subs.s + 1) * dims.w] AS v
  FROM e, dims, subs
),
seeds AS (
  SELECT s, v AS cv,
         ROW_NUMBER() OVER (
           PARTITION BY s
           ORDER BY CAST(('0x' || substr(md5(vec_id || '#7'), 1, 15)) AS BIGINT),
                    vec_id) - 1 AS cell
  FROM se
  QUALIFY cell < 16
),
d1 AS (
  SELECT se.vec_id, se.s, se.v, sd.cell,
         list_sum(list_transform(list_zip(se.v, sd.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM se JOIN seeds sd ON se.s = sd.s
),
a1 AS (
  SELECT vec_id, s, v, cell
  FROM (SELECT vec_id, s, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, cell) AS rn
        FROM d1)
  WHERE rn = 1
),
u AS (
  SELECT a.s, a.cell, generate_subscripts(a.v, 1) AS i, unnest(a.v) AS x
  FROM a1 a
),
upd AS (
  SELECT s, cell, i,
         SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS su,
         COUNT(*) AS n
  FROM u GROUP BY s, cell, i
),
cent2 AS (
  SELECT sd.s, sd.cell,
         COALESCE(list(up.su / (1000000.0 * up.n) ORDER BY up.i)
                    FILTER (WHERE up.i IS NOT NULL),
                  sd.cv) AS cv
  FROM seeds sd LEFT JOIN upd up ON sd.s = up.s AND sd.cell = up.cell
  GROUP BY sd.s, sd.cell, sd.cv
),
d2 AS (
  SELECT se.vec_id, se.s, c.cell,
         list_sum(list_transform(list_zip(se.v, c.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM se JOIN cent2 c ON se.s = c.s
),
a2 AS (
  SELECT vec_id, s, cell, ROUND(dist, 6) AS dist
  FROM (SELECT vec_id, s, cell, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, cell) AS rn
        FROM d2)
  WHERE rn = 1
)"""

Q76_SQL = _PQ_CHAIN + """
SELECT vec_id,
       string_agg(CAST(cell AS VARCHAR), ',' ORDER BY s) AS codes_csv,
       ROUND(SUM(dist), 6) AS dist
FROM a2 GROUP BY vec_id
"""


# --------------------------------------------------------------------------
# Q77 — PQ search with asymmetric distance computation (operators
# .similarity.pq_adc_topk_serve): candidates scored from their 2-byte
# codes via per-query lookup tables — the serving pattern PQ exists
# for. FIT/SERVE SPLIT: codebooks come from a persisted
# parquet artifact (fit once per dataset via fit_pq_artifact, loaded
# thereafter), so this plan contains NO training jobs — only the
# GEMM code projection, broadcast lookup tables, and ranking. The
# oracle still re-derives the codebooks from the data (Q76 chain):
# identical by construction because the artifact was fitted with the
# same deterministic recipe.
# --------------------------------------------------------------------------

# Artifact root (not a hard-coded absolute path). Override
# with SPARK_GRAFT_ARTIFACT_DIR (the config knob a deployment would
# set to a shared filesystem/object-store prefix); default to an
# .artifacts folder next to the package, so a checkout anywhere works.
_ARTIFACT_ROOT = os.environ.get(
    "SPARK_GRAFT_ARTIFACT_DIR",
    os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".artifacts"))
_ARTIFACT_MEMO: dict = {}

# Observable artifact warm/cold state (a cold or evicted PQ artifact can
# swing q77's wall time 6x, and a timing must say which it saw). Every
# _fitted_artifact resolution appends (kind, "memo"|"load"|"fit");
# bench.py drains this to stamp its summary line and to pre-warm the
# vector family before timing.
ARTIFACT_EVENTS: list[tuple[str, str]] = []


def warm_artifacts(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Resolve every dataset-keyed artifact family once (load, or fit
    + persist if absent/evicted) so subsequent serve-path queries time
    steady-state. Returns {kind: how_it_resolved}."""
    start = len(ARTIFACT_EVENTS)
    _pq_artifact(spark, sf_dir)
    _km_artifact(spark, sf_dir)
    _ivf_artifact(spark, sf_dir)
    _semdedup_artifact(spark, sf_dir)
    return dict(ARTIFACT_EVENTS[start:])


# ---- artifact lifecycle ---------------------------------------------------
# The root is BOUNDED: after every save the total on-disk size is
# checked against SPARK_GRAFT_ARTIFACT_MAX_BYTES (default 256 MiB) and
# least-recently-USED artifact dirs are evicted until it fits. "Used"
# is the mtime of a hidden .last_used marker touched on every load and
# save (dot-files are invisible to Spark's parquet file index, so the
# marker never pollutes reads). Eviction only removes the DISK copy —
# an in-process memo handle stays valid, and the next process simply
# refits, which is always safe because the fit recipe is deterministic.

def _artifact_max_bytes() -> int:
    return int(os.environ.get("SPARK_GRAFT_ARTIFACT_MAX_BYTES",
                              str(256 * 1024 * 1024)))


def _dir_size_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def _touch_artifact_used(path: str) -> None:
    try:
        with open(os.path.join(path, ".last_used"), "w") as f:
            f.write("")
    except OSError:
        pass


def _evict_artifacts(keep: str | None = None) -> list[str]:
    """LRU-evict artifact dirs until the root fits its byte budget.
    ``keep`` (typically the just-saved artifact) is never evicted."""
    import shutil

    try:
        dirs = [os.path.join(_ARTIFACT_ROOT, d)
                for d in os.listdir(_ARTIFACT_ROOT)]
    except OSError:
        return []
    dirs = [p for p in dirs if os.path.isdir(p)]
    sizes = {p: _dir_size_bytes(p) for p in dirs}
    total = sum(sizes.values())
    budget = _artifact_max_bytes()
    if total <= budget:
        return []

    def last_used(p: str) -> int:
        for probe in (os.path.join(p, ".last_used"), p):
            try:
                return os.stat(probe).st_mtime_ns
            except OSError:
                continue
        return 0

    evicted: list[str] = []
    for p in sorted(dirs, key=last_used):
        if total <= budget:
            break
        if keep and os.path.abspath(p) == os.path.abspath(keep):
            continue
        shutil.rmtree(p, ignore_errors=True)
        total -= sizes[p]
        evicted.append(p)
    return evicted


def _fitted_artifact(spark: SparkSession, sf_dir: str, kind: str, fit):
    """Memoized load-or-fit-and-persist for a dataset-keyed artifact
    (the serve half of every fit/serve split).

    REFIT POLICY (this is the contract that keeps corpus-scaled
    artifacts like q153's k=ceil(n/256) cells honest as data grows):
    the cache key folds in the dataset's modification state — the
    file's mtime, or for a directory dataset the entry count plus the
    newest file mtime inside it — so ANY rewrite or append under the
    same path produces a new key and a fresh fit against the grown
    corpus (new n → new k). An unchanged dataset loads the persisted
    artifact; the memo makes that one disk read per process. Pinned by
    tests/test_artifact_refit.py: growing the corpus under the same
    path refits with a larger k."""
    import hashlib
    import os

    from ..operators.similarity import (load_pq_artifact,
                                        save_pq_artifact)

    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    key_src = f"{kind}:{src}"
    try:
        st = os.stat(src)
        key_src += f"@{st.st_mtime_ns}"
        if os.path.isdir(src):
            # dir mtime only tracks entry create/delete — an in-place
            # part-file rewrite (same names) would be invisible, so
            # fold in the children's newest mtime and count too
            with os.scandir(src) as it:
                stats = [e.stat() for e in it]
            key_src += f"#{len(stats)}" + \
                f"@{max((s.st_mtime_ns for s in stats), default=0)}"
    except OSError:
        pass
    key = hashlib.md5(key_src.encode()).hexdigest()[:16]
    memo_key = (kind, key)
    if memo_key in _ARTIFACT_MEMO:         # one load per process
        ARTIFACT_EVENTS.append((kind, "memo"))
        return _ARTIFACT_MEMO[memo_key]
    path = f"{_ARTIFACT_ROOT}/{kind}_{key}"
    try:
        art = load_pq_artifact(spark, path)
        _touch_artifact_used(path)             # LRU recency for eviction
        ARTIFACT_EVENTS.append((kind, "load"))
    # refit ONLY on the expected conditions — artifact absent (Spark
    # raises AnalysisException on a missing parquet path) or torn/empty
    # (load raises ValueError). Any other error (corrupt footer, perm
    # denied) propagates: silently refitting would hide real damage.
    except (ValueError, AnalysisException):
        art = fit()
        ARTIFACT_EVENTS.append((kind, "fit"))
        if art is not None:
            save_pq_artifact(spark, art, path)
            _touch_artifact_used(path)
            _evict_artifacts(keep=path)        # bounded root (LRU)
    _ARTIFACT_MEMO[memo_key] = art
    return art


def _pq_artifact(spark: SparkSession, sf_dir: str):
    """The dataset's fitted PQ+IVF artifact (q76/q77/q81/q82 serve)."""
    from ..operators.similarity import fit_pq_artifact

    def fit():
        emb = read_table(spark, sf_dir, "embeddings")
        return fit_pq_artifact(emb, m=4, k=16, n_iter=2, seed=7,
                               n_cells=8, cell_seed=42)

    return _fitted_artifact(spark, sf_dir, "pq", fit)


def _km_artifact(spark: SparkSession, sf_dir: str):
    """The dataset's fitted k-means centroids (q67 serves assignment
    only)."""
    from ..operators.similarity import fit_pq_artifact

    def fit():
        emb = read_table(spark, sf_dir, "embeddings")
        return fit_pq_artifact(emb, m=1, k=8, n_iter=2, seed=7)

    return _fitted_artifact(spark, sf_dir, "km", fit)


def _ivf_artifact(spark: SparkSession, sf_dir: str):
    """The dataset's fitted IVF coarse centroids (q31's cell sample,
    persisted so serve runs zero training jobs)."""
    from ..operators.similarity import fit_pq_artifact

    def fit():
        emb = read_table(spark, sf_dir, "embeddings")
        return fit_pq_artifact(emb, m=1, k=16, n_iter=1, seed=42)

    return _fitted_artifact(spark, sf_dir, "ivfc", fit)


def q77_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _empty_pairs, pq_adc_topk_serve
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    art = _pq_artifact(spark, sf_dir)
    if art is None:
        return _empty_pairs(q, "vec_id", "adc_dist")
    return pq_adc_topk_serve(q, emb, 5, art)


Q77_SQL = _PQ_CHAIN + """,
q AS (SELECT vec_id AS query_id, s, v AS qv FROM se WHERE vec_id < 8),
qd AS (
  SELECT q.query_id, c.s, c.cell,
         list_sum(list_transform(list_zip(q.qv, c.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM q JOIN cent2 c ON q.s = c.s
),
adc AS (
  SELECT qd.query_id, a.vec_id AS neighbor_id,
         ROUND(SUM(qd.d), 6) AS adc_dist
  FROM a2 a JOIN qd ON a.s = qd.s AND a.cell = qd.cell
  WHERE a.vec_id <> qd.query_id
  GROUP BY qd.query_id, a.vec_id
)
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc)
WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# Q141 — incremental ANN index maintenance: the PERSISTED codes table
# is the index. The base corpus (vec_id % 10 != 0) is encoded under
# the frozen PQ artifact and written as a parquet index; the "new"
# arrivals (vec_id % 10 == 0) are encoded separately — only the new
# vectors, no re-encode of the base — and APPENDED. Top-k ADC serving
# off the appended index must equal q77's full-corpus answer, so q141
# reuses Q77's ORACLE verbatim: a hash match certifies that
# append-only maintenance is byte-identical to a full rebuild (codes
# are pure functions of artifact + vector — the invariant that makes
# the index maintainable without downtime at 100 TB).
# --------------------------------------------------------------------------

def q141_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (_empty_pairs, pq_adc_topk_codes,
                                        pq_encode)

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    art = _pq_artifact(spark, sf_dir)
    if art is None:
        return _empty_pairs(q, "vec_id", "adc_dist")
    # session-private path: concurrent builds can't interleave the
    # overwrite/append sequence; repeat builds overwrite in place
    index_path = scratch_dir(spark, sf_dir, "pqindex")
    is_new = F.pmod("vec_id", F.lit(10)) == 0
    pq_encode(emb.filter(~is_new), art) \
        .write.mode("overwrite").parquet(index_path)
    pq_encode(emb.filter(is_new), art) \
        .write.mode("append").parquet(index_path)
    codes = spark.read.parquet(index_path)
    return pq_adc_topk_codes(q, codes, 5, art)


Q141_SQL = Q77_SQL  # append ≡ rebuild is exactly the claim under test


# --------------------------------------------------------------------------
# Q202 — ANN index DELETE maintenance (q141's missing half): removal
# requests (GDPR / takedown / dedup-loser eviction) must come out of a
# served 100 TB index without re-encoding it. Deletion is an APPEND of
# ids to a tombstone side-table — code files are immutable — and the
# serve path anti-joins the tombstones before ADC scoring (a broadcast
# anti-join at real scale: the tombstone set is delete-sized, the
# index is corpus-sized). The oracle is q77's full-corpus ADC replay
# restricted to surviving candidates, so a hash match certifies
# delete ≡ rebuild, byte-for-byte, including deleted ids never
# appearing as neighbors while still working as QUERIES (an external
# vector can always probe the index).
# --------------------------------------------------------------------------

def q202_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (_empty_pairs, pq_adc_topk_codes,
                                        pq_encode)

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    art = _pq_artifact(spark, sf_dir)
    if art is None:
        return _empty_pairs(q, "vec_id", "adc_dist")
    index_path = scratch_dir(spark, sf_dir, "pqdel")
    tomb_path = scratch_dir(spark, sf_dir, "pqdel_tombs")
    pq_encode(emb, art).write.mode("overwrite").parquet(index_path)
    (emb.filter(F.col("vec_id") % 10 == 3)
        .select(F.col("vec_id").alias("neighbor_id"))
        .write.mode("overwrite").parquet(tomb_path))
    codes = spark.read.parquet(index_path)
    tombs = spark.read.parquet(tomb_path)
    live = codes.join(F.broadcast(tombs), "neighbor_id", "left_anti")
    return pq_adc_topk_codes(q, live, 5, art)


Q202_SQL = Q77_SQL.replace(
    "WHERE a.vec_id <> qd.query_id",
    "WHERE a.vec_id <> qd.query_id AND a.vec_id % 10 <> 3")
if Q202_SQL == Q77_SQL:  # the anchor line moved: fail at import, loudly
    raise AssertionError("Q202_SQL candidate filter did not apply")


# --------------------------------------------------------------------------
# Q78 — in-corpus bigram-LM perplexity per document (operators
# .textstats.bigram_perplexity): the CCNet-style quality filter. Counts
# come from window aggregations over the exploded bigram table; each
# -ln p term rounds to 12 decimals and sums as exact DECIMAL so the
# result is partitioning- and engine-independent.
# --------------------------------------------------------------------------

def q78_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import bigram_perplexity
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return bigram_perplexity(docs, "doc_id", "text")


Q78_SQL = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tok
  FROM documents
), b AS (
  SELECT doc_id, unnest(bg) AS bg
  FROM (SELECT doc_id,
               CASE WHEN len(tok) < 2 THEN []::VARCHAR[]
                    ELSE list_transform(
                           list_zip(tok[1:len(tok)-1], tok[2:len(tok)]),
                           p -> p[1] || ' ' || p[2]) END AS bg
        FROM toks)
), o AS (
  SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM b
), cnt AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY bg) AS cbg,
         COUNT(*) OVER (PARTITION BY w1) AS cw1
  FROM o
), v AS (SELECT COUNT(DISTINCT w1) AS vsz FROM o),
terms AS (
  SELECT doc_id,
         CAST(ROUND(-ln((cbg + 1.0) / (cw1 + vsz)), 12)
              AS DECIMAL(28,12)) AS t
  FROM cnt, v
), agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(t) AS s
  FROM terms GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       ROUND(CAST(s AS DOUBLE) / n_bigrams, 6) AS nll,
       ROUND(exp(CAST(s AS DOUBLE) / n_bigrams), 6) AS ppl
FROM agg
"""


# --------------------------------------------------------------------------
# Q80 — split drift audit: per-token KL(test ‖ train) contributions
# over the q57 hash split. The leak/shift check a curated corpus runs
# before training: a large positive contribution = the token is
# over-represented in test relative to train (smoothed, so union-vocab
# tokens absent from one side still score). One flag-split aggregation
# (A7 idiom) + broadcast scalar totals; every probability and log term
# re-derived by the oracle.
# --------------------------------------------------------------------------

def q80_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import assign_split
    from ..operators.textstats import tokens as _tok
    docs = assign_split(read_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select("split",
                    F.explode(_tok(F.lower(F.col("text")))).alias("token"))
    is_test = F.col("split") == "test"
    cnt = t.groupBy("token").agg(
        F.sum(F.when(~is_test, 1).otherwise(0)).alias("c_train"),
        F.sum(F.when(is_test, 1).otherwise(0)).alias("c_test"))
    tot = cnt.groupBy().agg(F.count(F.lit(1)).alias("_V"),
                            F.sum("c_train").alias("_Nt"),
                            F.sum("c_test").alias("_Ns"))
    p = (F.col("c_test") + F.lit(1.0)) / (F.col("_Ns") + F.col("_V"))
    q = (F.col("c_train") + F.lit(1.0)) / (F.col("_Nt") + F.col("_V"))
    return (cnt.crossJoin(F.broadcast(tot))
               .select("token", "c_train", "c_test",
                       (F.round(p * F.log(p / q), 9) + F.lit(0.0))
                        .alias("kl_term")))


Q80_SQL = """
WITH toks AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#7'),
                        1, 15)) AS BIGINT) % 1000 < 100
              THEN 'test' ELSE 'train' END AS split,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tok
  FROM documents
), t AS (
  SELECT split, unnest(tok) AS token FROM toks
), cnt AS (
  SELECT token,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_train,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_test
  FROM t GROUP BY token
), tot AS (
  SELECT COUNT(*) AS vsz, SUM(c_train) AS nt, SUM(c_test) AS ns FROM cnt
)
SELECT token, c_train, c_test,
       ROUND(((c_test + 1.0) / (ns + vsz))
             * ln(((c_test + 1.0) / (ns + vsz))
                  / ((c_train + 1.0) / (nt + vsz))), 9) + 0.0 AS kl_term
FROM cnt, tot
"""


# --------------------------------------------------------------------------
# Q81 — IVFADC: the full production ANN stack (operators.similarity
# .ivf_pq_topk_serve). IVF cells prune candidates (equi-join on cell id),
# PQ-ADC lookup tables score the survivors from 2-byte codes. The
# oracle replays coarse centroids, cell assignment, probes, PQ codes,
# and the per-query tables — every ranked distance hash-checked.
# --------------------------------------------------------------------------

def q81_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serve-only: coarse centroids + codebooks from the persisted
    # artifact (see q77 header) — no training stage in this plan
    from ..operators.similarity import _empty_pairs, ivf_pq_topk_serve
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    art = _pq_artifact(spark, sf_dir)
    if art is None or art.coarse is None:
        return _empty_pairs(q, "vec_id", "adc_dist")
    return ivf_pq_topk_serve(q, emb, 5, art, n_probe=2)


_IVFPQ_CHAIN = _PQ_CHAIN + """,
icent AS (
  SELECT v AS cv,
         ROW_NUMBER() OVER (
           ORDER BY CAST(('0x' || substr(md5(vec_id || '#42'), 1, 15)) AS BIGINT),
                    vec_id) - 1 AS cell
  FROM e
  QUALIFY cell < 8
),
idist AS (
  SELECT e.vec_id, ic.cell,
         list_sum(list_transform(list_zip(e.v, ic.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM e CROSS JOIN icent ic
),
iassign AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) AS rn
        FROM idist)
  WHERE rn = 1
),
iprobe AS (
  SELECT vec_id AS query_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) AS rn
        FROM idist WHERE vec_id < 8)
  WHERE rn <= 2
),
q AS (SELECT vec_id AS query_id, s, v AS qv FROM se WHERE vec_id < 8),
qd AS (
  SELECT q.query_id, c.s, c.cell,
         list_sum(list_transform(list_zip(q.qv, c.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM q JOIN cent2 c ON q.s = c.s
),
adc AS (
  SELECT qd.query_id, a.vec_id AS neighbor_id,
         ROUND(SUM(qd.d), 6) AS adc_dist
  FROM a2 a
  JOIN iassign ia ON ia.vec_id = a.vec_id
  JOIN iprobe ip ON ip.cell = ia.cell
  JOIN qd ON a.s = qd.s AND a.cell = qd.cell
         AND qd.query_id = ip.query_id
  WHERE a.vec_id <> qd.query_id
  GROUP BY qd.query_id, a.vec_id
)"""

Q81_SQL = _IVFPQ_CHAIN + """
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc)
WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# Q82 — retrieve-then-rerank: the two-stage serving pipeline the ANN
# family exists for. Stage 1 (cheap, approximate): IVFADC shortlist of
# 15 per query from 2-byte codes. Stage 2 (exact, tiny): cosine rerank
# of the shortlist against the full vectors, top-5. The rerank join
# touches |shortlist| rows — the corpus is read exactly once by stage
# 1's code scan. Oracle replays both stages.
# --------------------------------------------------------------------------

def q82_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (_as_double, _empty_pairs, cosine,
                                        ivf_pq_topk_serve)
    from ..operators.windows import top_n_per_key
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    art = _pq_artifact(spark, sf_dir)
    if art is None or art.coarse is None:
        short = _empty_pairs(q, "vec_id", "adc_dist")
    else:
        # stage 1 serve-only from the persisted artifact (q77 header)
        short = ivf_pq_topk_serve(q, emb, 15, art, n_probe=2)
    qv = emb.select(F.col("vec_id").alias("query_id"),
                    _as_double(F.col("embedding")).alias("_qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    _as_double(F.col("embedding")).alias("_cv"))
    scored = (short.select("query_id", "neighbor_id")
                   .join(F.broadcast(qv), "query_id")
                   .join(cv, "neighbor_id")
                   .select("query_id", "neighbor_id",
                           (F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
                            + F.lit(0.0)).alias("cos_exact")))
    top = top_n_per_key(scored, ["query_id"],
                        [F.col("cos_exact").desc(), F.col("neighbor_id")], 5)
    return top.select("query_id", "neighbor_id", "cos_exact")


Q82_SQL = _IVFPQ_CHAIN + """,
shortlist AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc)
  WHERE rn <= 15
), rerank AS (
  SELECT sh.query_id, sh.neighbor_id,
         ROUND(list_dot_product(qe.v, ne.v)
               / (sqrt(list_dot_product(qe.v, qe.v))
                  * sqrt(list_dot_product(ne.v, ne.v))), 6) AS cos_exact
  FROM shortlist sh
  JOIN e qe ON qe.vec_id = sh.query_id
  JOIN e ne ON ne.vec_id = sh.neighbor_id
)
SELECT query_id, neighbor_id, cos_exact
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_exact DESC, neighbor_id) AS rr
      FROM rerank)
WHERE rr <= 5
"""


# --------------------------------------------------------------------------
# Q70 — deterministic weighted sampling without replacement
# (operators.sampling.weighted_sample, Efraimidis–Spirakis A-ES keyed
# by the row's own md5 hash): "sample 100 documents by length" with
# every inclusion decision re-derivable by the oracle.
# --------------------------------------------------------------------------

def q70_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample
    docs = read_table(spark, sf_dir, "documents")
    s = weighted_sample(docs, "doc_id", F.col("n_chars"), k=100, seed=7)
    return s.select("doc_id", "n_chars",
                    (F.round("es_key", 6) + F.lit(0.0)).alias("es_key"))


Q70_SQL = """
WITH s AS (
  SELECT doc_id, n_chars,
         ln((CAST(('0x' || substr(md5(doc_id || '#7'), 1, 15)) AS BIGINT) + 1.0)
            / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, n_chars, ROUND(es_key, 6) + 0.0 AS es_key
FROM s ORDER BY ROUND(es_key, 12) DESC, doc_id LIMIT 100
"""


# --------------------------------------------------------------------------
# Q103 — the END-TO-END corpus curation pipeline, one declarative
# plan: language filter → quality filter → exact dedup → near-dup
# dedup → PII scrub → token-budget sharding. This is the composition
# the engine exists for — each stage is an already-verified operator
# (q15, q14, q13, q59, the scrub_pii cross-engine test, q60), chained
# so Catalyst sees ONE plan: filters fuse into the scan, the only
# shuffles are the dedup aggregations and the pair join, and sharding
# is the distributed prefix sum. The oracle replays every stage in
# SQL (recursive CTE for the near-dup components).
# --------------------------------------------------------------------------

def q103_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import scrub_pii
    from ..functions.deterministic import rnd0
    from ..operators.dedup import connected_components, keep_canonical
    from ..operators.sampling import token_budget_shards
    from ..operators.windows import dedupe_keep_latest

    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    base = docs.select("doc_id", "text",
                       tokens(t).alias("_tok"),
                       tokens(F.lower(t)).alias("_ltok"))
    nt = F.size("_tok")
    uniq = F.when(nt == 0, F.lit(0.0)) \
            .otherwise(F.size(F.array_distinct("_tok")) / nt)
    n_stop = F.size(F.filter("_ltok", lambda x: x.isin(*EN_STOPWORDS)))
    stop = F.when(F.size("_ltok") == 0, F.lit(0.0)) \
            .otherwise(n_stop / F.size("_ltok"))
    length_ok = F.when((nt >= 10) & (nt <= 10_000), F.lit(1.0)) \
                 .otherwise(F.lit(0.0))
    staged = base.select(
        "doc_id", "text", nt.cast("long").alias("n_tokens"),
        stop.alias("stop_ratio"),
        (F.lit(0.5) * uniq + F.lit(0.2) * (F.lit(1.0) - stop)
         + F.lit(0.3) * length_ok).alias("quality"))

    good = staged.filter((F.col("stop_ratio") >= 0.12)
                         & (F.col("quality") >= 0.5))
    # exact dedup: keep the smallest doc_id per content hash.
    # localCheckpoint: four downstream consumers (pair join a/b sides,
    # size table, canonical anti-join, scrub projection) would each
    # recompute the tokenization-heavy filter chain — materialize the
    # curated set once (bounded: it's the post-filter survivor set)
    exact = dedupe_keep_latest(
        good.withColumn("_h", F.md5(F.encode("text", "UTF-8"))),
        ["_h"], [F.col("doc_id").asc()]).drop("_h").localCheckpoint(eager=False)
    # near-dup dedup among exact survivors (length-bucket blocking).
    # `exact` comes out of a shuffle and a checkpoint, which a read's
    # fan-out does not reach; it is a subset of `documents`, so that
    # table's size decides whether the shingle stage is spread.
    pairs = blocked_jaccard_pairs(
        spread_if_narrow(spark, exact,
                         os.path.join(sf_dir, "documents.parquet")),
        "doc_id", "text",
        [F.floor(F.col("n_tokens") / 10).cast("long")],
        k=3, threshold=0.2)
    surv = keep_canonical(exact, connected_components(pairs), "doc_id")
    scrubbed = surv.select("doc_id", "n_tokens", "quality",
                           scrub_pii(F.col("text")).alias("_clean"))
    shards = token_budget_shards(scrubbed, "doc_id", F.col("n_tokens"),
                                 budget=5_000)
    return (scrubbed.join(shards, "doc_id")
            .select("doc_id", "n_tokens",
                    rnd0("quality", 6).alias("quality"), "shard",
                    F.md5(F.encode("_clean", "UTF-8")).alias("text_sig")))


def _pii_scrub_sql(expr: str) -> str:
    from ..functions.cleaning import PII_PATTERNS
    for name, pat in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '<{name}>', 'g')"
    return expr


Q103_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltok
  FROM documents
),
m AS (
  SELECT doc_id, text, tok,
         CAST(len(tok) AS BIGINT) AS n_tokens,
         CASE WHEN len(ltok) = 0 THEN 0.0
              ELSE len(list_filter(ltok, x -> x IN ({_STOP_SQL}))) / len(ltok)
         END AS stop_ratio,
         CASE WHEN len(tok) = 0 THEN 0.0
              ELSE len(list_distinct(tok)) / len(tok) END AS uniq_ratio
  FROM toks
),
staged AS (
  SELECT doc_id, text, tok, n_tokens, stop_ratio,
         0.5 * uniq_ratio + 0.2 * (1.0 - stop_ratio)
           + 0.3 * (CASE WHEN n_tokens BETWEEN 10 AND 10000
                         THEN 1.0 ELSE 0.0 END) AS quality
  FROM m
),
good AS (
  SELECT * FROM staged WHERE stop_ratio >= 0.12 AND quality >= 0.5
),
ex AS (
  SELECT g.* FROM good g
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS kid
        FROM good GROUP BY md5(text)) c
    ON g.doc_id = c.kid
),
base AS (
  SELECT doc_id, n_tokens // 10 AS len_bucket,
         list_distinct([
           list_aggregate(tok[i:i+2], 'string_agg', ' ')
           FOR i IN range(1, greatest(len(tok) - 2, 0) + 1)
         ]) AS shingles
  FROM ex
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM base a JOIN base b
    ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
  WHERE CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0
             THEN 0.0
             ELSE len(list_intersect(a.shingles, b.shingles))
                  / len(list_distinct(list_concat(a.shingles, b.shingles)))
        END >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
),
losers AS (
  SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
  WHERE id <> component
),
surv AS (
  SELECT doc_id, n_tokens, quality,
         {_pii_scrub_sql('text')} AS clean
  FROM ex WHERE doc_id NOT IN (SELECT id FROM losers)
)
SELECT doc_id, n_tokens, ROUND(quality, 6) + 0.0 AS quality,
       CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens)
                  / 5000) AS BIGINT) AS shard,
       md5(clean) AS text_sig
FROM surv
"""


# --------------------------------------------------------------------------
# Q107 — forward as-of join: for each purchase, the FIRST click at or
# after it (reaction/next-action latency — the mirror of q28's
# last-touch attribution). Same single-shuffle union+window plan as
# the backward as-of, scanning the merged timeline in descending time
# order; no range explosion, left-outer semantics (purchases with no
# later click keep null latency).
# --------------------------------------------------------------------------

def q107_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", "ts", F.col("event_id").alias("purchase_id")))
    c = (ev.filter(F.col("event_type") == "click")
           .select("user_id", "ts", ntz_micros("ts").alias("c_us")))
    j = asof_join(p, c, ["user_id"], "ts", "ts",
                  right_payload=["c_us"], direction="forward")
    return j.select("purchase_id", "user_id",
                    F.col("asof_c_us").alias("next_click_us"),
                    (F.col("asof_c_us") - ntz_micros("ts"))
                     .alias("latency_us"))


Q107_SQL = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id,
       epoch_us(MIN(c.ts)) AS next_click_us,
       epoch_us(MIN(c.ts)) - epoch_us(p.ts) AS latency_us
FROM p LEFT JOIN c
  ON c.user_id = p.user_id AND c.ts >= p.ts
GROUP BY p.purchase_id, p.user_id, p.ts
"""


# --------------------------------------------------------------------------
# Q110 — LEFT-OUTER stream-stream interval join: q48's attribution
# including purchases with NO prior click. The outer side exercises
# the null-emission machinery inner joins never touch: an unmatched
# left row emits only once the watermark PROVES no future right row
# can match, i.e. when the final global watermark (min over both
# streams' max event time, minus lateness) passes it. Matched pairs
# emit unconditionally, so the oracle is the batch LEFT range join
# with unmatched rows restricted to ts <= that watermark — an
# emission rule that depends only on the two stream maxima, hence
# batch-layout-independent (verified empirically: both the count and
# the max emitted unmatched timestamp match the rule exactly).
# --------------------------------------------------------------------------

def q110_stream_attribution_outer(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from ..streaming.stream import (run_rollup_available_now,
                                    stream_interval_join)

    def src() -> DataFrame:
        return (read_table_stream(spark, sf_dir, "events")
                .select("event_id", "user_id", "event_type",
                        ntz_to_instant("ts").alias("ts")))

    purchases = (src().filter(F.col("event_type") == "purchase")
                      .select("event_id", "user_id", "ts"))
    clicks = (src().filter(F.col("event_type") == "click")
                   .select("user_id", "ts"))
    j = stream_interval_join(purchases, clicks, on=["user_id"],
                             left_ts="ts", right_ts="ts",
                             lower_s=-3600, upper_s=0, prefix="click_",
                             how="left_outer")
    drained = run_rollup_available_now(j, output_mode="append",
                                       state_partitions=4)
    return (drained.groupBy(F.col("event_id").alias("purchase_id"),
                            F.col("user_id"))
                   .agg(F.count("click_ts").alias("n_clicks_1h"),
                        F.max(F.unix_micros("click_ts"))
                         .alias("last_click_us")))


Q110_SQL = """
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
wm AS (SELECT LEAST((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM c))
              - INTERVAL 2 HOUR AS w),
j AS (
  SELECT p.event_id AS purchase_id, p.user_id, p.ts,
         COUNT(c.ts) AS n_clicks_1h,
         epoch_us(MAX(c.ts)) AS last_click_us
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id
   AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
  GROUP BY p.event_id, p.user_id, p.ts
)
SELECT purchase_id, user_id, n_clicks_1h, last_click_us
FROM j, wm
WHERE n_clicks_1h > 0 OR j.ts <= wm.w
"""


# --------------------------------------------------------------------------
# Q100 — incremental corpus dedupe (operators.dedup
# .incremental_jaccard_dedupe): even doc_ids, deduped among
# themselves, form the accumulated corpus; odd doc_ids are the new
# crawl batch. Survivors of the batch = odds with no verified match
# into the corpus and canonical (min-id) within their batch-local
# component. The production shape of continuous dedup: per-batch cost
# is O(new × overlap) because the probe side of the inverted-index
# join is new-docs-only — corpus×corpus pairs never form. The oracle
# replays both phases with recursive CTEs (q59's chain, split).
# --------------------------------------------------------------------------

def q100_incremental_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (connected_components,
                                   incremental_jaccard_dedupe,
                                   keep_canonical, shingle_base)
    docs = read_table(spark, sf_dir, "documents")
    blocks = [F.col("lang"),
              F.floor(n_tokens(F.col("text")) / 10).cast("long")]
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    # SHARED SIGNATURE STAGE: shingle the WHOLE
    # table in ONE pass, checkpoint, and slice by parity — phase 1's
    # pair generation, the incremental probe's corpus side, AND its
    # new-docs side all reuse the same frame (previously the
    # composite shingled the corpus twice and the new batch once more
    # — the bench-ceiling constant).
    base_all = (shingle_base(
                    read_table(spark, sf_dir, "documents", spread=True),
                    "doc_id", "text", blocks, k=3)
                .withColumn("_new", F.col("doc_id") % 2 == 1)
                .localCheckpoint(eager=False))
    base_evens = base_all.filter(~F.col("_new")).drop("_new")
    pairs = blocked_jaccard_pairs(evens, "doc_id", "text", blocks,
                                  k=3, threshold=0.2, base=base_evens)
    # incremental_jaccard_dedupe consumes the corpus several times
    # (inverted index, sizes, id set) — materialize phase 1 once
    # instead of recomputing pairs+components per consumer
    corpus = keep_canonical(evens, connected_components(pairs), "doc_id") \
        .localCheckpoint(eager=False)
    surv_base = (base_evens
                 .join(corpus.select("doc_id"), "doc_id", "semi")
                 .withColumn("_new", F.lit(False)))
    odd_base = base_all.filter(F.col("_new"))
    out = incremental_jaccard_dedupe(
        odds, corpus, "doc_id", "text", blocks, k=3, threshold=0.2,
        tagged_base=odd_base.unionByName(surv_base))
    return out.select("doc_id", "lang")


Q100_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes(0.2)},
-- MATERIALIZED: multiply-referenced CTEs here otherwise re-inline
-- the whole prefix-filter pipeline per reference (sf1 timeout)
jac AS MATERIALIZED (
  SELECT id_a, id_b, id_a % 2 AS odd_a, id_b % 2 AS odd_b FROM pairs
),
old_edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM jac WHERE odd_a = 0 AND odd_b = 0
  UNION
  SELECT id_b, id_a FROM jac WHERE odd_a = 0 AND odd_b = 0
),
old_reach(id, r) AS (
  SELECT a, a FROM old_edges
  UNION
  SELECT e.a, r.r FROM old_edges e JOIN old_reach r ON e.b = r.id
),
old_losers AS MATERIALIZED (
  SELECT id FROM (SELECT id, MIN(r) AS component FROM old_reach GROUP BY id)
  WHERE id <> component
),
-- phase 2: edges among odds and corpus survivors, >=1 odd endpoint
p2 AS (
  SELECT id_a, id_b FROM jac
  WHERE (odd_a = 1 OR odd_b = 1)
    AND (odd_a = 1 OR id_a NOT IN (SELECT id FROM old_losers))
    AND (odd_b = 1 OR id_b NOT IN (SELECT id FROM old_losers))
),
edges2 AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM p2
  UNION
  SELECT id_b, id_a FROM p2
),
reach2(id, r) AS (
  SELECT a, a FROM edges2
  UNION
  SELECT e.a, r.r FROM edges2 e JOIN reach2 r ON e.b = r.id
),
comp2 AS MATERIALIZED (SELECT id, MIN(r) AS component FROM reach2 GROUP BY id),
dirty AS (
  SELECT DISTINCT component FROM comp2 WHERE id % 2 = 0
),
losers2 AS (
  SELECT id FROM comp2
  WHERE id % 2 = 1
    AND (component IN (SELECT component FROM dirty) OR id <> component)
)
SELECT doc_id, lang FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT id FROM losers2)
"""


# --------------------------------------------------------------------------
# Q146 — HTML boilerplate strip (operators.webtext.strip_html): the
# front door of a web-crawl corpus. Markup is synthesized
# deterministically from documents columns (identically in both
# engines), then script/style/comment content is dropped, tags
# stripped, whitespace collapsed — a pure JVM regexp_replace chain the
# oracle replays verbatim in RE2 (patterns stay in the shared
# Java-regex/RE2 subset). clean_md5 gates the full extracted string;
# text_density is the classic boilerplate-ratio signal.
# --------------------------------------------------------------------------

def q146_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.webtext import html_extract

    docs = read_table(spark, sf_dir, "documents")
    page = docs.withColumn(
        "html",
        F.concat(
            F.lit('<html><head><script type="text/javascript">var t = 1;'
                  '</script><style>p { color: red; }</style><title>'),
            F.col("source"),
            F.lit("</title></head><body><!-- hdr --><h1>"),
            F.upper(F.col("lang")),
            F.lit("</h1><p>"), F.col("text"),
            F.lit('</p><div class="nav">home</div></body></html>')))
    out = html_extract(page, "html")
    return out.select("doc_id", F.md5(F.col("clean_text")).alias("clean_md5"),
                      "n_raw", "n_text", "text_density")


Q146_SQL = """
WITH page AS (
  SELECT doc_id,
         '<html><head><script type="text/javascript">var t = 1;'
         || '</script><style>p { color: red; }</style><title>'
         || source || '</title></head><body><!-- hdr --><h1>'
         || upper(lang) || '</h1><p>' || text
         || '</p><div class="nav">home</div></body></html>' AS html
  FROM documents
),
stripped AS (
  SELECT doc_id, html,
         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g'),
           '<[^>]+>', ' ', 'g'),
           '\\s+', ' ', 'g')) AS clean_text
  FROM page
)
SELECT doc_id, md5(clean_text) AS clean_md5,
       CAST(len(html) AS BIGINT) AS n_raw,
       CAST(len(clean_text) AS BIGINT) AS n_text,
       CAST(len(clean_text) AS DOUBLE) / len(html) AS text_density
FROM stripped
"""


# --------------------------------------------------------------------------
# Q147 — per-domain corpus rebalance (operators.webtext
# .cap_per_domain): URLs synthesized from source/lang, host extracted
# with parse_url (JVM), and each domain capped at 20 documents chosen
# by deterministic md5 order — the Common-Crawl step that stops one
# mega-domain from dominating the training mix. Kept set is stable
# under re-runs and corpus growth; per-domain totals ride along so the
# drop rate is auditable. One shuffle on domain; AQE skew-split covers
# heavy-hitter hosts at scale.
# --------------------------------------------------------------------------

def q147_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.webtext import cap_per_domain, domain_of

    docs = read_table(spark, sf_dir, "documents")
    urls = docs.withColumn(
        "url",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/"),
                 F.col("lang"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")))
    tagged = urls.withColumn("domain", domain_of(F.col("url")))
    capped = cap_per_domain(tagged, "domain", "doc_id", k=20)
    return capped.select("doc_id", "domain", "n_domain_docs",
                         F.col("rk").cast("bigint").alias("rk"))


Q147_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.org/' || lang || '/doc/'
           || doc_id AS url
  FROM documents
),
d AS (
  SELECT doc_id, regexp_extract(url, '^https?://([^/]+)', 1) AS domain
  FROM u
),
r AS (
  SELECT doc_id, domain,
         COUNT(*) OVER (PARTITION BY domain) AS n_domain_docs,
         ROW_NUMBER() OVER (
           PARTITION BY domain
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '#7'), doc_id) AS rk
  FROM d
)
SELECT doc_id, domain, n_domain_docs, rk FROM r WHERE rk <= 20
"""


# --------------------------------------------------------------------------
# Q148 — Gopher-style composite quality rules (operators.webtext
# .gopher_flags): word-count bounds, mean-word-length bounds, stopword
# presence, duplicate-token saturation — each violation sets a bit in
# rule_mask so the drop REASON is auditable, keep = mask == 0. Pure
# column expressions over one split(); ratios are single IEEE
# divisions the oracle replays bit-exactly.
# --------------------------------------------------------------------------

def q148_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.webtext import gopher_flags

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return (gopher_flags(docs, "text")
            .select("doc_id", "n_words", "mean_word_len", "stop_hits",
                    "uniq_ratio", "rule_mask", "keep"))


Q148_SQL = """
WITH t AS (
  SELECT doc_id, trim(text) AS text,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN text = '' THEN 0 ELSE len(toks) END AS n_words,
         len(regexp_replace(text, '\\s+', '', 'g')) AS chars_no_ws,
         len(list_intersect(toks, ['the', 'a', 'of', 'to', 'and']))
           AS stop_hits,
         len(list_distinct(toks)) AS n_uniq
  FROM t
),
m AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0
              THEN CAST(chars_no_ws AS DOUBLE) / n_words
              ELSE 0.0 END AS mean_word_len,
         stop_hits,
         CASE WHEN n_words > 0
              THEN CAST(n_uniq AS DOUBLE) / n_words
              ELSE 0.0 END AS uniq_ratio
  FROM s
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
       CAST(stop_hits AS BIGINT) AS stop_hits, uniq_ratio,
       CAST(((n_words < 15 OR n_words > 100000)::INT * 1
             + (mean_word_len < 2.0 OR mean_word_len > 10.0)::INT * 2
             + (stop_hits < 1)::INT * 4
             + (uniq_ratio < 0.2)::INT * 8) AS INT) AS rule_mask,
       ((n_words < 15 OR n_words > 100000)::INT * 1
        + (mean_word_len < 2.0 OR mean_word_len > 10.0)::INT * 2
        + (stop_hits < 1)::INT * 4
        + (uniq_ratio < 0.2)::INT * 8) = 0 AS keep
FROM m
"""


# --------------------------------------------------------------------------
# Q149 — leakage-safe train/test split: near-dup components (q18's
# pair graph → connected components) define the split UNIT, so every
# member of a near-dup cluster lands on the same side of the boundary
# — the contamination mode a per-document hash split cannot prevent.
# Singletons are their own component. Same portable md5 bucket as q57,
# keyed on the component id; the oracle rewalks the graph with a
# recursive CTE and applies the identical bucket arithmetic.
# --------------------------------------------------------------------------

def q149_component_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components
    from ..operators.sampling import assign_split

    docs = read_table(spark, sf_dir, "documents")
    pairs = _q18_pairs(spark, sf_dir)
    comps = (connected_components(pairs)
             .select(F.col("id").alias("doc_id"), "component"))
    tagged = (docs.join(comps, "doc_id", "left")
                  .select("doc_id",
                          F.coalesce("component", "doc_id")
                           .alias("component")))
    return (assign_split(tagged, "component")
            .select("doc_id", "component", "split"))


Q149_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes(0.2)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
tagged AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, component,
       CASE WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR) || '#7'),
                                      1, 15)) AS BIGINT) % 1000 < 100
            THEN 'test' ELSE 'train' END AS split
FROM tagged
"""


# --------------------------------------------------------------------------
# Q150 — VARIANT shredding (Spark 4 semi-structured path): order rows
# serialized to JSON, parsed into a VARIANT column, fields extracted
# back out with variant_get (nested object + array index), then
# aggregated. Hash-equality against an oracle computed straight from
# the base table certifies serialize → parse_json → variant_get as
# value-exact end-to-end (doubles survive via Jackson shortest-repr,
# same contract as q134's JSON roundtrip).
# --------------------------------------------------------------------------

def q150_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders", spread=True)
    j = orders.select(F.to_json(F.struct(
        F.col("o_orderkey").alias("key"),
        F.struct(F.col("o_custkey").alias("cust"),
                 F.col("o_totalprice").alias("total")).alias("acct"),
        F.array(F.col("o_orderstatus"),
                F.col("o_orderpriority")).alias("tags"))).alias("doc"))
    v = j.select(F.parse_json(F.col("doc")).alias("v"))
    shred = v.select(
        F.try_variant_get(F.col("v"), "$.key", "bigint").alias("key"),
        F.try_variant_get(F.col("v"), "$.acct.total", "double").alias("total"),
        F.try_variant_get(F.col("v"), "$.tags[0]", "string").alias("status"),
        F.try_variant_get(F.col("v"), "$.tags[1]", "string").alias("priority"))
    return (shred.groupBy("status", "priority")
                 .agg(F.count(F.lit(1)).alias("n"),
                      dsum("total").alias("sum_total"),
                      F.min("key").alias("min_key")))


Q150_SQL = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total,
       MIN(o_orderkey) AS min_key
FROM orders GROUP BY status, priority
"""


# --------------------------------------------------------------------------
# Q151 — XML source certified under the oracle gate (S-family
# extension, same discipline as q134/q135): lineitem columns staged
# through Spark 4's built-in XML source (rowTag framing), read back
# with the contract schema, aggregated — hash-equality vs the original
# parquet proves the writer/parser pair value-exact (doubles through
# Java shortest-repr text, dates as ISO strings).
# --------------------------------------------------------------------------

def q151_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _stage_roundtrip(spark, sf_dir, "xml",
                            options={"rowTag": "row"}, spread=True)
    return (back.groupBy("l_returnflag", "l_linenumber")
                .agg(F.count(F.lit(1)).alias("n"),
                     dsum("l_quantity").alias("sum_qty"),
                     dsum("l_extendedprice").alias("revenue")))


_Q151_AGG = """
SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem GROUP BY l_returnflag, l_linenumber
"""


# --------------------------------------------------------------------------
# Q152 — exact repeated-substring excision (token 5-gram granularity):
# the corpus-level "remove every substring that appears twice" pass
# from Lee et al.'s suffix-array dedup, re-expressed as the k-gram
# approximation a shuffle engine can run: repeated grams found by one
# hash agg over 16-byte digests, per-doc hit positions merged into
# maximal spans by an islands window, spans excised by a per-doc range
# anti-join, document rebuilt from the survivors. Complements q13
# (whole-doc) and q126 (fixed-window passage): this one removes
# VARIABLE-length repeats at ANY offset. Oracle replays every stage in
# DuckDB with the same md5 gram digests and island arithmetic.
# --------------------------------------------------------------------------

def q152_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import repeated_ngram_spans

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return repeated_ngram_spans(docs, "doc_id", "text", k=5, min_count=2)


Q152_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
  FROM documents
), gl AS (
  SELECT doc_id, list_transform(generate_series(1, len(w)-5+1),
                 i -> md5(array_to_string(w[i:i+4], ' '))) AS g
  FROM base WHERE len(w) >= 5
), grams AS (
  SELECT doc_id, generate_subscripts(g,1)-1 AS p, unnest(g) AS gh FROM gl
), rep AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2
), hit AS (
  SELECT doc_id, p FROM grams JOIN rep USING (gh)
), brk AS (
  SELECT doc_id, p,
         CASE WHEN p > COALESCE(MAX(p) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -6) + 5
              THEN 1 ELSE 0 END AS b
  FROM hit
), isl AS (
  SELECT doc_id, p, SUM(b) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
  FROM brk
), spans AS (
  SELECT doc_id, iid, MIN(p) AS s, MAX(p)+4 AS e
  FROM isl GROUP BY doc_id, iid
), toks AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w,1)-1 AS pos FROM base
), kept AS (
  SELECT t.doc_id, t.word, t.pos
  FROM toks t LEFT JOIN spans sp
    ON t.doc_id = sp.doc_id AND t.pos BETWEEN sp.s AND sp.e
  WHERE sp.s IS NULL
), agg AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
), spanstats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(SUM(e-s+1) AS BIGINT) AS covered_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.w) AS BIGINT) AS n_tokens,
       COALESCE(ss.covered_tokens, 0) AS covered_tokens,
       COALESCE(ss.n_spans, 0) AS n_spans,
       COALESCE(a.clean_text, '') AS clean_text
FROM base b
LEFT JOIN spanstats ss USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------------
# Q153 — SemDeDup (Abbas et al. 2023): semantic dedup via embedding
# cells + within-cell cosine. The cells must do two jobs at once:
# (a) be SEMANTIC (near-dups land together — k-means geometry), and
# (b) stay BOUNDED as the corpus grows (else within-cell all-pairs is
# quadratic). Fitting k-means with k ∝ n satisfies (b) for the pair
# stage but makes ASSIGNMENT itself Θ(n·k) = Θ(n²/256): a
# constant-dup-rate sweep measured that design at 3.1x cost for 4x
# data — nearest-centroid against a corpus-scaled centroid set is the
# hidden quadratic term. The scale-correct composition: a FIXED
# k-means layer (k=8, the memory-budget coarse quantizer) for
# semantic geometry, sub-split by masked sign-LSH bits where the mask
# width grows as b = #{i : n > 2048·2^i} — pure integer comparisons,
# bit-identical in every engine, no log() boundary hazards. Expected
# cell size stays in [128, 256]; assignment is n·(8 centroids + 24
# fixed hyperplanes) = Θ(n). The keep policy is min-id dominance
# (drop any vector with a smaller-id neighbor at cos >= tau). The
# oracle replays the Lloyd fit (k=8), the plane signs, the mask
# derivation, the within-cell cosines, and the dominance rule.
# Recall note: sub-splitting can separate a near-dup pair whose signs
# differ on an unmasked plane — the same within-cell-only tradeoff
# the paper's clusters already make, certified samplable the q171 way.
# --------------------------------------------------------------------------

_SEMDEDUP_K = 8          # _km_artifact's k: the fixed coarse layer
_SEMDEDUP_PLANES_N = 24  # fixed hyperplane pool; the MASK grows, not this
_SEMDEDUP_CELL = 2048    # target pre-split corpus per km-cell octant


def _semdedup_artifact(spark: SparkSession, sf_dir: str):
    """Fixed-k coarse cells for q153: the same k=8, seed-7 k-means as
    q67's ``km`` artifact, served as an alias of it: one fit, one saved
    copy, one memo entry. A ``("semk8", how)`` event still records how
    the family resolved (``km``'s own resolution is the event before
    it). The corpus-scaled piece of the cell id (the LSH mask) is
    derived IN-PLAN from a count aggregate, so it needs no artifact and
    no refit policy; the k-means artifact still refits whenever the
    dataset changes (mtime/child-count keying, pinned by
    test_artifact_refit)."""
    art = _km_artifact(spark, sf_dir)
    ARTIFACT_EVENTS.append(("semk8", ARTIFACT_EVENTS[-1][1]))
    return art


_SEM_PLANES = _hyperplanes(EMB_DIM, _SEMDEDUP_PLANES_N, 7)


def q153_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._cache import register_cache
    from ..operators.similarity import (dot, kmeans_assign_serve,
                                        l2_norm, signature_col)

    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    art = _semdedup_artifact(spark, sf_dir)
    if art is None:
        return (emb.limit(0)
                   .select("vec_id", F.lit(0).alias("cell"),
                           F.lit(True).alias("keep"),
                           F.lit(0.0).alias("max_cos")))
    cnt = emb.agg(F.count(F.lit(1)).alias("_n"))
    b = None
    for i in range(_SEMDEDUP_PLANES_N):
        term = F.when(F.col("_n") > F.lit(_SEMDEDUP_CELL * (1 << i)),
                      1).otherwise(0)
        b = term if b is None else b + term
    mask = F.pow(F.lit(2.0), b).cast("long") - F.lit(1).cast("long")
    # norms project ONCE per vector (not once per pair — same doubles,
    # sqrt(dot(v,v)) either way); t feeds BOTH self-join sides and the
    # final keep join, so it is registry-cached or the assignment +
    # signature subtree would run three times
    t = register_cache(
        kmeans_assign_serve(emb, art).select("vec_id", "cell")
        .join(emb.select("vec_id",
                         F.col("embedding").cast("array<double>")
                          .alias("v")),
              "vec_id")
        .crossJoin(F.broadcast(cnt.select(mask.alias("_mask"))))
        .withColumn("cell",
                    F.col("cell").cast("long") * F.lit(1 << 24)
                    + signature_col(F.col("v"), _SEM_PLANES)
                       .bitwiseAND(F.col("_mask")))
        .select("vec_id", "cell", "v", l2_norm(F.col("v")).alias("_nm")))
    a, b = t.alias("a"), t.alias("b")
    cos_r = (F.round(dot(F.col("a.v"), F.col("b.v"))
                     / (F.col("a._nm") * F.col("b._nm")), 6)
             + F.lit(0.0))
    pairs = (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
              .select(F.col("a.vec_id").alias("id_a"),
                      F.col("b.vec_id").alias("id_b"),
                      cos_r.alias("cos")))
    both = (pairs.select(F.col("id_a").alias("vec_id"),
                         F.col("id_b").alias("nbr"), "cos")
            .unionByName(pairs.select(
                F.col("id_b").alias("vec_id"),
                F.col("id_a").alias("nbr"), "cos")))
    stats = (both.groupBy("vec_id")
                 .agg(F.max("cos").alias("max_cos"),
                      F.max(F.when((F.col("cos") >= 0.45)
                                   & (F.col("nbr") < F.col("vec_id")),
                                   True))
                       .alias("_dom")))
    return (t.join(stats, "vec_id", "left")
             .select("vec_id", F.col("cell").cast("int").alias("cell"),
                     F.coalesce(~F.col("_dom"), F.lit(True)).alias("keep"),
                     (F.coalesce("max_cos", F.lit(-1.0)) + 0.0)
                      .alias("max_cos")))


_Q153_SIG = "\n         + ".join(
    f"(CASE WHEN list_dot_product(v, {plane!r}) >= 0"
    f" THEN {1 << i} ELSE 0 END)"
    for i, plane in enumerate(_SEM_PLANES))
_Q153_BITS = "\n         + ".join(
    f"(CASE WHEN _n > {_SEMDEDUP_CELL * (1 << i)} THEN 1 ELSE 0 END)"
    for i in range(_SEMDEDUP_PLANES_N))

_Q153_ASG = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
msk AS (
  SELECT CAST(power(2, {_Q153_BITS}) AS BIGINT) - 1 AS mask
  FROM (SELECT COUNT(*) AS _n FROM e)
),
seeds AS (
  SELECT v AS cv,
         ROW_NUMBER() OVER (
           ORDER BY CAST(('0x' || substr(md5(vec_id || '#7'), 1, 15)) AS BIGINT),
                    vec_id) - 1 AS cell
  FROM e QUALIFY cell < {_SEMDEDUP_K}
),
d1 AS (
  SELECT e.vec_id, e.v, s.cell,
         list_sum(list_transform(list_zip(e.v, s.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM e CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, v, cell
  FROM (SELECT vec_id, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d1)
  WHERE rn = 1
),
u AS (SELECT cell, generate_subscripts(a.v, 1) AS i, unnest(a.v) AS x
      FROM a1 a),
upd AS (SELECT cell, i,
               SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM u GROUP BY cell, i),
cent2 AS (
  SELECT sd.cell,
         COALESCE(list(up.s / (1000000.0 * up.n) ORDER BY up.i)
                    FILTER (WHERE up.i IS NOT NULL), sd.cv) AS cv
  FROM seeds sd LEFT JOIN upd up ON sd.cell = up.cell
  GROUP BY sd.cell, sd.cv
),
d2 AS (
  SELECT e.vec_id, e.v, c.cell,
         list_sum(list_transform(list_zip(e.v, c.cv),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
  FROM e CROSS JOIN cent2 c
),
asg0 AS (
  SELECT vec_id, v, cell
  FROM (SELECT vec_id, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d2)
  WHERE rn = 1
),
asg AS (
  SELECT vec_id, v,
         cell * 16777216
           + (({_Q153_SIG}) & (SELECT mask FROM msk)) AS cell
  FROM asg0
)
"""

Q153_SQL = _Q153_ASG + """
, p AS (
  SELECT x.vec_id AS ia, y.vec_id AS ib,
         ROUND(list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))), 6) + 0.0 AS c
  FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
),
bidir AS (
  SELECT ia AS vec_id, ib AS nbr, c FROM p
  UNION ALL
  SELECT ib AS vec_id, ia AS nbr, c FROM p
),
stats AS (
  SELECT vec_id, MAX(c) AS max_cos,
         BOOL_OR(c >= 0.45 AND nbr < vec_id) AS dom
  FROM bidir GROUP BY vec_id
)
SELECT t.vec_id, CAST(t.cell AS INTEGER) AS cell,
       NOT COALESCE(s.dom, FALSE) AS keep,
       COALESCE(s.max_cos, -1.0) + 0.0 AS max_cos
FROM asg t LEFT JOIN stats s USING (vec_id)
"""


# --------------------------------------------------------------------------
# Q154 — raw-file corpus ingestion certified: documents staged as ONE
# FILE PER DOC (doc_id as a hive partition key — the layout a scraped
# corpus actually arrives in), then ingested back through BOTH
# whole-file readers Spark offers: format("binaryFile") (content as
# BLOB + file length) and text with wholetext=true (content as one
# string row). Each path re-derives (doc_id from the partition dir,
# byte size net of the writer's trailing newline, md5 of the decoded
# text) and must hash-match the parquet base table — certifying
# partition discovery, whole-file framing, and byte-exact UTF-8
# decode on both readers. The write is executor-side (partitionBy),
# no driver loop; the readers are the standard ingestion path for
# 100 TB of raw .txt/.warc shards.
# --------------------------------------------------------------------------

def q154_rawfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile

    from ..sources.writers import write_atomic

    # deterministic 1-in-10 subset: reader certification needs the
    # paths proven, not every doc staged — file-per-doc writes cost
    # one directory per row, so the staged corpus is a fixed fraction
    # and the write happens ONCE per source file. Not a scratch_dir:
    # this is a cache shared across sessions, one dir per source path.
    # The source mtime is stamped after the write; a regenerated
    # dataset (new mtime) restages into the same dir.
    docs = (read_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 == 0))
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = hashlib.md5(src.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_rawtxt_{key}")
    stamp_path = os.path.join(path, "_source_mtime")
    stamp = str(os.stat(src).st_mtime_ns)
    try:
        with open(stamp_path, encoding="utf-8") as fh:
            staged = fh.read() == stamp
    except OSError:
        staged = False
    if not staged:
        (docs.select("doc_id", F.col("text").alias("value"))
             .write.partitionBy("doc_id").mode("overwrite").text(path))
        write_atomic(stamp_path, stamp)

    # an EMPTY corpus stages a _SUCCESS with zero partition dirs; the
    # whole-file readers would then see no doc_id partition column at
    # all (schema error, not zero rows) — short-circuit to the empty
    # result frame instead
    import glob as _glob
    if not _glob.glob(os.path.join(path, "doc_id=*")):
        return spark.createDataFrame(
            [], "src string, doc_id long, n_bytes long, text_md5 string")

    # the text writer appends one line terminator per row; wholetext
    # strips it on read, binaryFile (raw bytes) does not — so byte
    # accounting happens on the newline-stripped decode on BOTH paths
    def _decoded(col):
        return F.regexp_replace(col, r"\n$", "")

    bin_rows = (spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.txt").load(path)
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        _decoded(F.col("content").cast("string"))
                        .alias("_t"))
                .withColumn("src", F.lit("binary")))
    txt_rows = (spark.read.option("wholetext", "true").text(path)
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        _decoded(F.col("value")).alias("_t"))
                .withColumn("src", F.lit("wholetext")))
    return (bin_rows.unionByName(txt_rows)
            .select("src", "doc_id",
                    F.octet_length("_t").cast("long").alias("n_bytes"),
                    F.md5("_t").alias("text_md5")))


Q154_SQL = """
SELECT s.src, d.doc_id,
       CAST(strlen(d.text) AS BIGINT) AS n_bytes,
       md5(d.text) AS text_md5
FROM documents d CROSS JOIN (VALUES ('binary'), ('wholetext')) AS s(src)
WHERE d.doc_id % 10 = 0
"""


# --------------------------------------------------------------------------
# Q155 — distributed ridge regression via NORMAL EQUATIONS: the
# canonical cluster-scale linear-model fit (quality classifiers,
# calibration heads) — one pass aggregates X^T X / X^T y as nine
# map-side-combinable sums (decimal-exact, so partitioning cannot
# perturb them), the 3x3 ridge system is solved in closed form
# (Cramer) as scalar EXPRESSIONS on the one-row aggregate — no
# driver-side linear algebra, no collect — and a second pass scores
# every row against the broadcast betas for the exact RMSE. Shuffle
# traffic: 9 doubles. The oracle replays the identical sums, the
# identical determinant expression tree, and the scoring pass.
# --------------------------------------------------------------------------

def q155_ridge_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.deterministic import rnd0

    li = read_table(spark, sf_dir, "lineitem", spread=True)
    d = li.select(F.col("l_quantity").cast("double").alias("x1"),
                  F.col("l_discount").cast("double").alias("x2"),
                  F.col("l_extendedprice").cast("double").alias("y"))
    DEC = "decimal(38,10)"

    def ds(c):
        return F.sum(c.cast(DEC)).cast("double")

    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    sums = d.agg(F.count(F.lit(1)).cast("double").alias("n"),
                 ds(x1).alias("s1"), ds(x2).alias("s2"),
                 ds(x1 * x1).alias("s11"), ds(x1 * x2).alias("s12"),
                 ds(x2 * x2).alias("s22"), ds(y).alias("sy"),
                 ds(x1 * y).alias("s1y"), ds(x2 * y).alias("s2y"))
    A = sums.select("*",
                    (F.col("n") + 1.0).alias("a11"),
                    (F.col("s11") + 1.0).alias("a22"),
                    (F.col("s22") + 1.0).alias("a33"),
                    F.col("s1").alias("a12"), F.col("s2").alias("a13"),
                    F.col("s12").alias("a23"))
    a11, a22, a33 = F.col("a11"), F.col("a22"), F.col("a33")
    a12, a13, a23 = F.col("a12"), F.col("a13"), F.col("a23")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (a11 * (a22 * a33 - a23 * a23)
           - a12 * (a12 * a33 - a23 * a13)
           + a13 * (a12 * a23 - a22 * a13))
    det0 = (sy * (a22 * a33 - a23 * a23)
            - a12 * (s1y * a33 - a23 * s2y)
            + a13 * (s1y * a23 - a22 * s2y))
    det1 = (a11 * (s1y * a33 - a23 * s2y)
            - sy * (a12 * a33 - a23 * a13)
            + a13 * (a12 * s2y - s1y * a13))
    det2 = (a11 * (a22 * s2y - s1y * a23)
            - a12 * (a12 * s2y - s1y * a13)
            + sy * (a12 * a23 - a22 * a13))
    betas = A.select(F.col("n").cast("long").alias("n_rows"),
                     rnd0(det0 / det, 6).alias("b0"),
                     rnd0(det1 / det, 6).alias("b1"),
                     rnd0(det2 / det, 6).alias("b2"))
    r = y - (F.col("b0") + F.col("b1") * x1 + F.col("b2") * x2)
    scored = d.crossJoin(F.broadcast(betas)) \
              .withColumn("_rr", F.round(r * r, 4))
    return (scored.groupBy("n_rows", "b0", "b1", "b2")
                  .agg(rnd0(F.sqrt(F.sum(F.col("_rr").cast(DEC))
                                    .cast("double") / F.col("n_rows")), 6)
                       .alias("rmse")))


Q155_SQL = """
WITH d AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x1,
         CAST(l_discount AS DOUBLE) AS x2,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x1 AS DECIMAL(38,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(x2 AS DECIMAL(38,10))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,10))) AS DOUBLE) AS s11,
         CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,10))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,10))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x1 * y AS DECIMAL(38,10))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(x2 * y AS DECIMAL(38,10))) AS DOUBLE) AS s2y
  FROM d
), a AS (
  SELECT s.*, n + 1.0 AS a11, s11 + 1.0 AS a22, s22 + 1.0 AS a33,
         s1 AS a12, s2 AS a13, s12 AS a23
  FROM s
), b AS (
  SELECT CAST(n AS BIGINT) AS n_rows,
         ROUND((sy * (a22 * a33 - a23 * a23)
                - a12 * (s1y * a33 - a23 * s2y)
                + a13 * (s1y * a23 - a22 * s2y))
               / (a11 * (a22 * a33 - a23 * a23)
                  - a12 * (a12 * a33 - a23 * a13)
                  + a13 * (a12 * a23 - a22 * a13)), 6) + 0.0 AS b0,
         ROUND((a11 * (s1y * a33 - a23 * s2y)
                - sy * (a12 * a33 - a23 * a13)
                + a13 * (a12 * s2y - s1y * a13))
               / (a11 * (a22 * a33 - a23 * a23)
                  - a12 * (a12 * a33 - a23 * a13)
                  + a13 * (a12 * a23 - a22 * a13)), 6) + 0.0 AS b1,
         ROUND((a11 * (a22 * s2y - s1y * a23)
                - a12 * (a12 * s2y - s1y * a13)
                + sy * (a12 * a23 - a22 * a13))
               / (a11 * (a22 * a33 - a23 * a23)
                  - a12 * (a12 * a33 - a23 * a13)
                  + a13 * (a12 * a23 - a22 * a13)), 6) + 0.0 AS b2
  FROM a
), r AS (
  SELECT b.n_rows, b.b0, b.b1, b.b2,
         ROUND((y - (b0 + b1 * x1 + b2 * x2))
               * (y - (b0 + b1 * x1 + b2 * x2)), 4) AS rr
  FROM d CROSS JOIN b
)
SELECT n_rows, b0, b1, b2,
       ROUND(sqrt(CAST(SUM(CAST(rr AS DECIMAL(38,10))) AS DOUBLE)
                  / n_rows), 6) + 0.0 AS rmse
FROM r GROUP BY n_rows, b0, b1, b2
"""


# --------------------------------------------------------------------------
# Q156 — Unicode NFC normalization + accent folding certified: the
# testdata corpus is pure ASCII, so the query first SYNTHESIZES
# combining-mark text deterministically on both engines (every 'e'
# gains U+0301), then normalizes it back. NFC must compose e+mark
# into é (codepoint count shrinks by exactly the injected-mark
# count), and the accent FOLD must round-trip to the original text
# byte-for-byte — both md5-gated against DuckDB's native
# nfc_normalize. Spark side is an Arrow-batched pandas UDF over
# pandas' vectorized normalizer (Spark has no built-in NFC); this is
# the canonicalization pass multilingual dedup keys require.
# --------------------------------------------------------------------------

def q156_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import fold_accents, nfc_normalize

    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.regexp_replace("text", "e", "é").alias("_dd"))
    return d.select(
        "doc_id",
        F.length("_dd").cast("long").alias("raw_chars"),
        F.length(nfc_normalize(F.col("_dd"))).cast("long")
         .alias("nfc_chars"),
        F.md5(nfc_normalize(F.col("_dd"))).alias("nfc_md5"),
        F.md5(fold_accents(F.col("_dd"))).alias("folded_md5"))


Q156_SQL = """
WITH d AS (
  SELECT doc_id, text,
         regexp_replace(text, 'e', 'e' || chr(769), 'g') AS dd
  FROM documents
)
SELECT doc_id,
       CAST(length(dd) AS BIGINT) AS raw_chars,
       CAST(length(nfc_normalize(dd)) AS BIGINT) AS nfc_chars,
       md5(nfc_normalize(dd)) AS nfc_md5,
       md5(text) AS folded_md5
FROM d
"""


# --------------------------------------------------------------------------
# Q157 — per-node triangle counting over the co-purchase graph
# (operators.graph.triangle_counts): degree-oriented wedge join, the
# algorithm that keeps hub nodes from exploding the candidate set
# (each edge is oriented low->high (degree, id), so wedges are
# enumerated from low-degree endpoints only; out-degree is O(sqrt m)).
# Pure integer counts — the oracle replays orientation, wedge
# generation, and closure exactly.
# --------------------------------------------------------------------------

def q157_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") >= "1997-01-01")
          .select("l_orderkey", "l_partkey").distinct())
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("s"),
                     F.col("b.l_partkey").alias("d"))
             .distinct())
    t = triangle_counts(pairs)
    return t.select(F.col("node").alias("part_key"),
                    F.col("degree").cast("long").alias("degree"),
                    "n_triangles")


Q157_SQL = """
-- MATERIALIZED reused CTEs: inlined, DuckDB re-derives the basket
-- edge set for every downstream reference (past the oracle budget at
-- 6M lineitem; 5 s materialized).
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_shipdate >= DATE '1997-01-01'),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
  GROUP BY node
),
ed AS MATERIALIZED (
  SELECT e.a, e.b, da.degree AS dega, db.degree AS degb
  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
),
o AS MATERIALIZED (
  SELECT CASE WHEN (dega < degb) OR (dega = degb AND a < b)
              THEN a ELSE b END AS u,
         CASE WHEN (dega < degb) OR (dega = degb AND a < b)
              THEN b ELSE a END AS v,
         CASE WHEN (dega < degb) OR (dega = degb AND a < b)
              THEN degb ELSE dega END AS degv
  FROM ed
),
w AS MATERIALIZED (
  SELECT o1.u, o1.v AS x, o2.v AS y
  FROM o o1 JOIN o o2 ON o1.u = o2.u
  WHERE (o1.degv < o2.degv) OR (o1.degv = o2.degv AND o1.v < o2.v)
),
t AS MATERIALIZED (SELECT w.u, w.x, w.y FROM w JOIN o ON o.u = w.x AND o.v = w.y),
pn AS (
  SELECT node, COUNT(*) AS nt
  FROM (SELECT u AS node FROM t UNION ALL SELECT x AS node FROM t
        UNION ALL SELECT y AS node FROM t)
  GROUP BY node
)
SELECT d.node AS part_key, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(pn.nt, 0) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN pn ON d.node = pn.node
"""


# --------------------------------------------------------------------------
# Q158 — skip-gram PMI co-occurrence statistics: the corpus-level
# association scores word2vec/GloVe-style training tables start from.
# Pairs are generated ARRAY-SIDE (each position emits its <=4
# following neighbours, canonically ordered) so there is no per-doc
# self-join at all — one explode, one hash agg. PMI is computed in
# log space (ln c_xy + 2 ln T - ln P - ln c_x - ln c_y) so the
# arithmetic never overflows int64 at any corpus size; unigram counts
# attach via two joins on the (small, broadcastable) vocab. Oracle
# replays pair generation with the identical window and log algebra.
# --------------------------------------------------------------------------

def q158_pmi_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", spread=True)
    w_arr = (F.when(F.length(F.trim(F.col("text"))) == 0,
                    F.array().cast("array<string>"))
              .otherwise(F.split(F.trim(F.lower("text")), r"\s+")))
    base = docs.select(w_arr.alias("w"))
    n = F.size("w")

    def pair_at(i, j):
        a = F.element_at("w", (i + 1).cast("int"))
        b = F.element_at("w", (i + j + 1).cast("int"))
        return F.when(i + j <= n - 1,
                      F.concat_ws("|", F.least(a, b), F.greatest(a, b)))

    pairs_arr = (
        F.when(n < 2, F.array().cast("array<string>"))
         .otherwise(F.flatten(F.transform(
             F.sequence(F.lit(0), F.greatest(n - 2, F.lit(-1))),
             lambda i: F.filter(
                 F.transform(F.sequence(F.lit(1), F.lit(4)),
                             lambda j: pair_at(i, j)),
                 lambda x: x.isNotNull())))))
    pairs = base.select(F.explode(pairs_arr).alias("pair"))
    cxy = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c_xy"))

    toks = base.select(F.explode("w").alias("tok"))
    cx = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = (toks.agg(F.count(F.lit(1)).alias("T"))
              .crossJoin(pairs.agg(F.count(F.lit(1)).alias("P"))))

    split = cxy.withColumn("wa", F.split("pair", r"\|")[0]) \
               .withColumn("wb", F.split("pair", r"\|")[1])
    j = (split.join(cx.select(F.col("tok").alias("wa"),
                              F.col("c").alias("c_a")), "wa")
              .join(cx.select(F.col("tok").alias("wb"),
                              F.col("c").alias("c_b")), "wb")
              .crossJoin(F.broadcast(totals)))
    pmi = (F.log("c_xy") + 2 * F.log("T") - F.log("P")
           - F.log("c_a") - F.log("c_b"))
    return (j.filter(F.col("c_xy") >= 5)
             .select("wa", "wb", F.col("c_xy").cast("long").alias("c_xy"),
                     (F.round(pmi, 6) + 0.0).alias("pmi")))


Q158_SQL = """
WITH base AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
), pa AS (
  SELECT list_filter(flatten(list_transform(
           generate_series(1, len(w) - 1),
           i -> list_transform(generate_series(1, 4),
                j -> CASE WHEN i + j <= len(w)
                          THEN least(w[i], w[i+j]) || '|' ||
                               greatest(w[i], w[i+j]) END))),
         x -> x IS NOT NULL) AS prs
  FROM base WHERE len(w) >= 2
), pairs AS (SELECT unnest(prs) AS pair FROM pa),
cxy AS (SELECT pair, COUNT(*) AS c_xy FROM pairs GROUP BY pair),
toks AS (SELECT unnest(w) AS tok FROM base),
cx AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
totals AS (
  SELECT (SELECT COUNT(*) FROM toks) AS T, (SELECT COUNT(*) FROM pairs) AS P
)
SELECT split_part(pair, '|', 1) AS wa, split_part(pair, '|', 2) AS wb,
       CAST(c_xy AS BIGINT) AS c_xy,
       ROUND(ln(c_xy) + 2 * ln(T) - ln(P)
             - ln(ca.c) - ln(cb.c), 6) + 0.0 AS pmi
FROM cxy
JOIN cx ca ON split_part(pair, '|', 1) = ca.tok
JOIN cx cb ON split_part(pair, '|', 2) = cb.tok
CROSS JOIN totals
WHERE c_xy >= 5
"""


# --------------------------------------------------------------------------
# Q159 — inverted-index build: token -> delta-encoded posting list,
# the retrieval-side artifact (BM25 serving, contamination lookups)
# a corpus pipeline materializes next to its shards. One explode, one
# shuffle keyed by token; posting lists are per-token (bounded by
# document frequency) and delta-encoded ARRAY-SIDE after a sort — the
# compression layout real indexes store. df/tf and the full encoded
# list are hash-gated against the oracle's window replay.
# --------------------------------------------------------------------------

def q159_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")) \
        .filter(F.col("tok") != "")
    agg = (toks.groupBy("tok")
               .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                    F.array_sort(F.collect_set("doc_id")).alias("_ids")))
    deltas = F.transform(
        "_ids",
        lambda x, i: F.when(i == 0, x)
                      .otherwise(x - F.element_at("_ids", i)))
    return (agg.filter(F.size("_ids") >= 5)
               .select("tok", F.size("_ids").cast("long").alias("df"),
                       "tf",
                       F.concat_ws(",", F.transform(
                           deltas, lambda d: d.cast("string")))
                        .alias("postings")))


Q159_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), agg AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
         list_sort(list_distinct(list(doc_id))) AS ids
  FROM toks WHERE tok <> '' GROUP BY tok
)
SELECT tok, CAST(len(ids) AS BIGINT) AS df, tf,
       array_to_string(list_transform(generate_series(1, len(ids)),
         i -> CASE WHEN i = 1 THEN ids[1] ELSE ids[i] - ids[i-1] END), ',')
         AS postings
FROM agg WHERE len(ids) >= 5
"""


# --------------------------------------------------------------------------
# Q160 — Zipf power-law fit over the corpus token distribution:
# ln(freq) ~ alpha*ln(rank) + c on the top-100 tokens (rank by freq
# desc, token asc — fully deterministic), closed-form 2-var OLS from
# four decimal-exact sums. The slope is the corpus-health statistic
# (natural text sits near -1; a deviating corpus is template- or
# spam-heavy). Same aggregate-then-solve shape as q155 at d=2.
# --------------------------------------------------------------------------

def q160_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"))
                .filter(F.col("tok") != "")
                .groupBy("tok").agg(F.count(F.lit(1)).alias("freq")))
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    top = (freq.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= 100)
               .select(F.log("rank").alias("x"), F.log("freq").alias("y")))
    DEC = "decimal(38,12)"

    def ds(c):
        return F.sum(c.cast(DEC)).cast("double")

    x, y = F.col("x"), F.col("y")
    s = top.agg(F.count(F.lit(1)).cast("double").alias("n"),
                ds(x).alias("sx"), ds(y).alias("sy"),
                ds(x * x).alias("sxx"), ds(x * y).alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    alpha = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - alpha * sx) / n
    return (s.select(n.cast("long").alias("n_tokens_used"),
                     (F.round(alpha, 6) + 0.0).alias("alpha"),
                     (F.round(intercept, 6) + 0.0).alias("intercept"))
             .filter(F.col("n_tokens_used") > 0))  # empty corpus → 0 rows


Q160_SQL = """
WITH freq AS (
  SELECT tok, COUNT(*) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0)
  WHERE tok <> '' GROUP BY tok
), top AS (
  SELECT ln(ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC)) AS x,
         ln(freq) AS y
  FROM freq QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) <= 100
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM top
)
SELECT CAST(n AS BIGINT) AS n_tokens_used,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS alpha,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         + 0.0 AS intercept
FROM s WHERE n > 0
"""


# --------------------------------------------------------------------------
# Q161 — WARC round-trip: documents assembled into multi-record
# WARC/1.0 blobs (JVM-side per-bucket concat with correct
# Content-Length framing) and parsed back by a content-length-driven
# reader (operators.webtext.parse_warc_records, mapInPandas
# one-to-many). Docs with doc_id % 97 == 0 get a payload that ITSELF
# contains "\\r\\nWARC/1.0" — a split-on-magic parser desyncs on
# these; the framing parser must recover every byte. Parsed ids,
# byte counts, and payload md5 are hash-gated against the base table
# with the same injected suffix.
# --------------------------------------------------------------------------

def q161_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.webtext import build_warc_records, parse_warc_records

    docs = read_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 97 == 0,
               F.lit("\r\nWARC/1.0")).otherwise(F.lit("")))
    src = docs.select("doc_id", payload.alias("payload"),
                      (F.col("doc_id") % 10).alias("bucket"))
    blobs = build_warc_records(src, "doc_id", "payload")
    parsed = parse_warc_records(blobs, "warc")
    return parsed.select(
        F.regexp_extract("rec_id", r"urn:doc:(\d+)", 1).cast("long")
         .alias("doc_id"),
        F.col("payload_bytes").cast("long").alias("payload_bytes"),
        F.md5("payload").alias("payload_md5"))


Q161_SQL = """
WITH p AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 97 = 0
                      THEN chr(13) || chr(10) || 'WARC/1.0'
                      ELSE '' END AS payload
  FROM documents
)
SELECT doc_id, CAST(strlen(payload) AS BIGINT) AS payload_bytes,
       md5(payload) AS payload_md5
FROM p
"""


# --------------------------------------------------------------------------
# Q162 — sparse TF-IDF cosine near-dup (operators.dedup
# .tfidf_cosine_pairs): the inverted-index sparse-vector similarity
# join — complements dense embedding cosine (q25) and set Jaccard
# (q18) with the idf-WEIGHTED lexical score retrieval systems use.
# Frequency cut bounds the per-shingle fan-out; all dot/norm sums are
# decimal-exact. Oracle replays shingling, idf, pruning, and the
# exact sums.
# --------------------------------------------------------------------------

def q162_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tfidf_cosine_pairs

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, "doc_id", "text",
                              k=3, df_min=2, df_max=25, threshold=0.3)


Q162_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
), gl AS (
  SELECT doc_id, list_transform(generate_series(1, len(w)-3+1),
                 i -> array_to_string(w[i:i+2], ' ')) AS g
  FROM base WHERE len(w) >= 3
), sh AS (SELECT doc_id, unnest(g) AS s FROM gl),
tf AS (SELECT doc_id, s, COUNT(*) AS tf FROM sh GROUP BY doc_id, s),
dfc AS (SELECT s, COUNT(*) AS dfq FROM tf GROUP BY s
        HAVING COUNT(*) BETWEEN 2 AND 25),
nd AS (SELECT COUNT(*) AS N FROM base WHERE len(w) >= 3),
kept AS (
  SELECT tf.doc_id, tf.s, tf.tf * ln(nd.N / dfc.dfq) AS wgt
  FROM tf JOIN dfc USING (s) CROSS JOIN nd
),
norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(wgt * wgt AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM kept GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(CAST(a.wgt * b.wgt AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(dot / (na.nrm * nb.nrm), 6) + 0.0 AS cosine
FROM dots
JOIN norms na ON dots.id_a = na.doc_id
JOIN norms nb ON dots.id_b = nb.doc_id
WHERE ROUND(dot / (na.nrm * nb.nrm), 6) + 0.0 >= 0.3
"""


# --------------------------------------------------------------------------
# Q163 — BM25 retrieval scoring over the corpus (the serve side of
# q159's inverted index): Lucene-form idf, k1=1.2 / b=0.75 length
# normalization, query = the corpus's own top-3 tokens (chosen
# deterministically by (freq desc, tok) so the oracle picks the same
# ones). Per-term contributions are cast to DECIMAL before the
# per-doc sum, so scores are partition-order-independent; final
# top-20 via sort+limit (TakeOrderedAndProject — never a global
# row_number window). avgdl and every df/tf are exact integers.
# --------------------------------------------------------------------------

def q163_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    K1, B = 1.2, 0.75
    docs = read_table(spark, sf_dir, "documents")
    toks = (docs.select("doc_id", F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"))
                .filter(F.col("tok") != ""))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("N"),
                   F.sum("dl").alias("sum_dl"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dfq"),
                                F.sum("tf").alias("freq"))
    wq = Window.orderBy(F.desc("freq"), F.asc("tok"))
    qterms = (dfc.withColumn("_r", F.row_number().over(wq))
                 .filter(F.col("_r") <= 3).select("tok", "dfq"))

    j = (tf.join(F.broadcast(qterms), "tok")
           .join(dl, "doc_id").crossJoin(F.broadcast(stats)))
    avgdl = F.col("sum_dl") / F.col("N")
    idf = F.log((F.col("N") - F.col("dfq") + 0.5)
                / (F.col("dfq") + 0.5) + 1.0)
    term = (idf * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl)))
    scored = (j.select("doc_id", term.cast("decimal(38,12)").alias("_t"))
                .groupBy("doc_id")
                .agg((F.round(F.sum("_t").cast("double"), 6) + 0.0)
                     .alias("score")))
    return (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
                  .select("doc_id", "score"))


Q163_SQL = """
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0)
  WHERE tok <> ''
), dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS N, SUM(dl) AS sum_dl FROM dl),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dfc AS (SELECT tok, COUNT(*) AS dfq, SUM(tf) AS freq FROM tf GROUP BY tok),
qterms AS (
  SELECT tok, dfq FROM dfc
  QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) <= 3
),
scored AS (
  SELECT tf.doc_id,
         ROUND(CAST(SUM(CAST(
           ln((stats.N - qterms.dfq + 0.5) / (qterms.dfq + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                             / (stats.sum_dl / stats.N)))
           AS DECIMAL(38,12))) AS DOUBLE), 6) + 0.0 AS score
  FROM tf JOIN qterms USING (tok)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# Q164 — distinct-n diversity metrics (the generated-data diversity
# check: distinct n-grams / total n-grams for n=1..3, corpus-wide,
# plus per-n entropy). Low distinct-n flags mode collapse / template
# spam in synthetic corpora. One explode per n, each a pure hash agg;
# entropy terms are per-distinct-gram logs cast to DECIMAL before the
# sum, so the float total is partition-order-independent.
# --------------------------------------------------------------------------

def q164_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w_arr = (F.when(F.length(F.trim(F.col("text"))) == 0,
                    F.array().cast("array<string>"))
              .otherwise(F.split(F.trim(F.lower("text")), r"\s+")))
    base = docs.select(w_arr.alias("w"))
    def gram_expr(n):
        # NB: a 2-arg lambda would make Spark pass (element, index) —
        # close over n with a single-arg lambda only
        sz = F.size("w")
        return (F.when(sz < n, F.array().cast("array<string>"))
                 .otherwise(F.transform(
                     F.sequence(F.lit(0), F.greatest(sz - n, F.lit(-1))),
                     lambda i: F.concat_ws(
                         " ", F.slice("w", (i + 1).cast("int"), n)))))

    outs = []
    for n in (1, 2, 3):
        grams = gram_expr(n)
        g = base.select(F.explode(grams).alias("g"))
        cnt = g.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        tot = F.sum("c")
        ent_term = (-(F.col("c") * F.log("c"))).cast("decimal(38,10)")
        outs.append(
            cnt.agg(F.lit(n).cast("int").alias("n"),
                    tot.cast("long").alias("total_ngrams"),
                    F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
                    (F.round(F.count(F.lit(1)) / tot, 6) + 0.0)
                     .alias("distinct_ratio"),
                    (F.round(
                        F.sum(ent_term).cast("double") / tot + F.log(tot),
                        6) + 0.0).alias("entropy_nats")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    # scalar agg over an EMPTY gram table yields a NULL-total row;
    # the oracle's GROUP BY n yields none — drop it (empty corpus → 0)
    return out.filter(F.col("total_ngrams").isNotNull())


Q164_SQL = """
WITH base AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
),
g1 AS (SELECT unnest(w) AS g FROM base),
g2 AS (SELECT unnest(list_transform(generate_series(1, len(w)-1),
                     i -> array_to_string(w[i:i+1], ' '))) AS g
       FROM base WHERE len(w) >= 2),
g3 AS (SELECT unnest(list_transform(generate_series(1, len(w)-2),
                     i -> array_to_string(w[i:i+2], ' '))) AS g
       FROM base WHERE len(w) >= 3),
m AS (
  SELECT 1 AS n, g FROM g1 UNION ALL
  SELECT 2 AS n, g FROM g2 UNION ALL
  SELECT 3 AS n, g FROM g3
),
cnt AS (SELECT n, g, COUNT(*) AS c FROM m GROUP BY n, g)
SELECT CAST(n AS INTEGER) AS n,
       CAST(SUM(c) AS BIGINT) AS total_ngrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
       ROUND(COUNT(*) / SUM(c), 6) + 0.0 AS distinct_ratio,
       ROUND(CAST(SUM(CAST(-(c * ln(c)) AS DECIMAL(38,10))) AS DOUBLE)
             / SUM(c) + ln(SUM(c)), 6) + 0.0 AS entropy_nats
FROM cnt GROUP BY n
"""


# --------------------------------------------------------------------------
# Q165 — stream-static dimension enrichment (the single most common
# production streaming shape: a fact stream broadcast-joined to a
# slowly-changing dimension BEFORE aggregation). The dim (customer ×
# nation) is a bounded BATCH table broadcast into every micro-batch;
# the stream side never shuffles for the join, and the per-nation
# revenue rollup runs through the streaming state store via
# AvailableNow. The oracle is the plain batch join+rollup — streaming
# execution must converge to it exactly.
# --------------------------------------------------------------------------

def q165_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_rollup_available_now

    ev = read_table_stream(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    dim = (cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
               .select(F.col("c_custkey").alias("user_id"),
                       F.col("n_name").alias("nation")))
    enriched = (ev.filter(F.col("event_type") == "purchase")
                  .join(F.broadcast(dim), "user_id", "left"))
    agg = (enriched.groupBy(F.coalesce("nation", F.lit("unknown"))
                             .alias("nation"))
                   .agg(F.count(F.lit(1)).alias("n_purchases"),
                        dsum("value").alias("revenue")))
    return run_rollup_available_now(agg, state_partitions=4)


Q165_SQL = """
SELECT COALESCE(n.n_name, 'unknown') AS nation,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE e.event_type = 'purchase'
GROUP BY COALESCE(n.n_name, 'unknown')
"""


# --------------------------------------------------------------------------
# Q166 / Q167 — KMV (bottom-k) sketches (operators.sketches.kmv_*):
# the distinct-count sketch that, unlike HLL, supports SET ALGEBRA.
# q166 gates the per-group estimate against the exact count; q167
# gates KMV's signature capability — Jaccard similarity of two sets
# from their merged bottom-k sketch (union sketch = k smallest of the
# merged hashes; J ≈ in-both fraction inside it) — against the exact
# Jaccard. md5-derived hashes make both engines' sketches identical
# hash-for-hash, so the deterministic estimation error is itself
# oracle-certified.
# --------------------------------------------------------------------------

def q166_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_estimate, kmv_fit

    ev = read_table(spark, sf_dir, "events")
    sk = kmv_fit(ev.select("event_type",
                           F.col("user_id").cast("string").alias("uid")),
                 "uid", ["event_type"], k=64)
    est = kmv_estimate(sk, ["event_type"], k=64)
    exact = (ev.groupBy("event_type")
               .agg(F.countDistinct(F.col("user_id").cast("string"))
                     .alias("n_exact")))
    return (est.join(exact, "event_type")
               .select("event_type", "n_exact", "n_kmv",
                       (F.round(F.abs(F.col("n_kmv") - F.col("n_exact"))
                                / F.col("n_exact"), 6) + 0.0)
                        .alias("rel_err")))


def _q166_sql() -> str:
    from ..operators.sketches import kmv_sql
    inner = kmv_sql("CAST(user_id AS VARCHAR)", "event_type",
                    "FROM events", k=64)
    return f"""
WITH kmv AS ({inner}),
exact AS (SELECT event_type,
                 COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS n_exact
          FROM events GROUP BY event_type)
SELECT k.event_type, e.n_exact, k.n_kmv,
       ROUND(ABS(k.n_kmv - e.n_exact) / e.n_exact, 6) + 0.0 AS rel_err
FROM kmv k JOIN exact e ON k.event_type = e.event_type
"""


Q166_SQL = _q166_sql()


def q167_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.sketches import kmv_hash

    K = 64
    ev = read_table(spark, sf_dir, "events")
    hset = (ev.select("event_type",
                      kmv_hash(F.col("user_id").cast("string")).alias("h"))
              .distinct())
    types = hset.select("event_type").distinct()
    prs = (types.select(F.col("event_type").alias("ta"))
                .join(types.select(F.col("event_type").alias("tb")),
                      F.col("ta") < F.col("tb")))
    tagged = (prs.join(hset, F.col("event_type") == F.col("ta"))
                 .select("ta", "tb", "h", F.lit(1).alias("ina"),
                         F.lit(0).alias("inb"))
              .unionByName(
                  prs.join(hset, F.col("event_type") == F.col("tb"))
                     .select("ta", "tb", "h", F.lit(0).alias("ina"),
                             F.lit(1).alias("inb"))))
    u = (tagged.groupBy("ta", "tb", "h")
               .agg(F.max("ina").alias("ina"), F.max("inb").alias("inb")))
    w = Window.partitionBy("ta", "tb").orderBy("h")
    top = u.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= K)
    kmv = (top.groupBy("ta", "tb")
              .agg((F.sum(F.col("ina") * F.col("inb"))
                    / F.count(F.lit(1))).alias("_j")))
    exact = (u.groupBy("ta", "tb")
              .agg((F.sum(F.col("ina") * F.col("inb"))
                    / F.count(F.lit(1))).alias("_je")))
    return (exact.join(kmv, ["ta", "tb"])
                 .select(F.col("ta").alias("type_a"),
                         F.col("tb").alias("type_b"),
                         (F.round("_je", 6) + 0.0).alias("j_exact"),
                         (F.round("_j", 6) + 0.0).alias("j_kmv"),
                         (F.round(F.abs(F.col("_j") - F.col("_je")), 6)
                          + 0.0).alias("abs_err")))


def _q167_sql() -> str:
    from ..operators.sketches import _KMV_DEN
    return f"""
WITH hset AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) / {_KMV_DEN!r} AS h
  FROM events
),
types AS (SELECT DISTINCT event_type FROM hset),
prs AS (SELECT a.event_type AS ta, b.event_type AS tb
        FROM types a JOIN types b ON a.event_type < b.event_type),
u AS (
  SELECT ta, tb, h, MAX(ina) AS ina, MAX(inb) AS inb
  FROM (
    SELECT p.ta, p.tb, s.h, 1 AS ina, 0 AS inb
    FROM prs p JOIN hset s ON s.event_type = p.ta
    UNION ALL
    SELECT p.ta, p.tb, s.h, 0 AS ina, 1 AS inb
    FROM prs p JOIN hset s ON s.event_type = p.tb
  ) GROUP BY ta, tb, h
),
top AS (
  SELECT * FROM (
    SELECT ta, tb, ina, inb,
           ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
    FROM u) WHERE rk <= 64
),
kmv AS (SELECT ta, tb, SUM(ina * inb) / COUNT(*) AS j FROM top
        GROUP BY ta, tb),
exact AS (SELECT ta, tb, SUM(ina * inb) / COUNT(*) AS je FROM u
          GROUP BY ta, tb)
SELECT e.ta AS type_a, e.tb AS type_b,
       ROUND(e.je, 6) + 0.0 AS j_exact,
       ROUND(k.j, 6) + 0.0 AS j_kmv,
       ROUND(ABS(k.j - e.je), 6) + 0.0 AS abs_err
FROM exact e JOIN kmv k ON e.ta = k.ta AND e.tb = k.tb
"""


Q167_SQL = _q167_sql()


# --------------------------------------------------------------------------
# Q168 — per-frame audio statistics over REAL WAV decode (the VAD
# shape: frame energy + zero-crossing rate before speech-segment
# filtering). Signals are synthesized per doc as an exact integer
# phase-mixed sawtooth, encoded through the real RIFF writer, decoded
# by the real parser, framed at 128 samples (trailing partial frame
# kept), and reduced to EXACT int64 sums — the oracle replays every
# sample from the closed-form signal with generate_series. RMS is a
# JVM-side round(sqrt(sum/n)) on both engines.
# --------------------------------------------------------------------------

def q168_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import audio_frame_stats, encode_wav

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 256 + did % 257
                i = np.arange(n, dtype=np.int64)
                x = ((i * 7 + did) % 101 - 50).astype(np.int16)
                payloads.append(encode_wav(x, 8000))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "payload": payloads})

    assets = docs.mapInPandas(_synth, "asset_id long, payload binary")
    stats = audio_frame_stats(assets, frame=128)
    return stats.select(
        "asset_id", "frame_idx", "n_in_frame", "sum_sq", "n_zero_cross",
        (F.round(F.sqrt(F.col("sum_sq") / F.col("n_in_frame")), 4) + 0.0)
         .alias("rms"))


Q168_SQL = """
WITH base AS (
  SELECT doc_id AS asset_id, 256 + doc_id % 257 AS n FROM documents
), samp AS (
  SELECT asset_id, i, (i * 7 + asset_id) % 101 - 50 AS x
  FROM (SELECT asset_id, unnest(generate_series(0, n - 1)) AS i FROM base)
), fr AS (
  SELECT asset_id, i // 128 AS frame_idx, i, x,
         lag(x) OVER (PARTITION BY asset_id ORDER BY i) AS xp,
         (i % 128) AS off
  FROM samp
)
SELECT asset_id, frame_idx,
       CAST(COUNT(*) AS BIGINT) AS n_in_frame,
       CAST(SUM(x * x) AS BIGINT) AS sum_sq,
       CAST(COUNT(*) FILTER (WHERE off > 0 AND xp * x < 0) AS BIGINT)
         AS n_zero_cross,
       ROUND(sqrt(CAST(SUM(x * x) AS BIGINT)
                  / CAST(COUNT(*) AS BIGINT)), 4) + 0.0 AS rms
FROM fr GROUP BY asset_id, frame_idx
"""


# --------------------------------------------------------------------------
# Q169 — image block pooling over REAL BMP decode: per-doc gradient
# rasters (pixel = (r*W + c + doc_id) % 251) round-trip the real
# encoder/decoder, then pool into 2x2 blocks as EXACT integer sums —
# the area-interpolation resize in its hash-stable form (q30/q22
# certified the multimodal PLUMBING; this certifies a real pixel
# TRANSFORM). Oracle rebuilds every pixel from the synthesis closed
# form and replays the block sums.
# --------------------------------------------------------------------------

def q169_image_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp, raster_block_sums

    W, H = 16, 8
    docs = read_table(spark, sf_dir, "documents", spread=True).select("doc_id")

    def _synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                r = np.arange(H, dtype=np.int64)[:, None]
                c = np.arange(W, dtype=np.int64)[None, :]
                img = ((r * W + c + did) % 251).astype(np.uint8)
                payloads.append(encode_bmp(img))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "payload": payloads})

    assets = docs.mapInPandas(_synth, "asset_id long, payload binary")
    pooled = raster_block_sums(assets, factor=2)
    return pooled.select(
        "asset_id", "block_r", "block_c", "n_px", "block_sum",
        (F.round(F.col("block_sum") / F.col("n_px"), 4) + 0.0)
         .alias("block_mean"))


Q169_SQL = """
WITH px AS (
  SELECT d.doc_id AS asset_id, r.r, c.c,
         (r.r * 16 + c.c + d.doc_id) % 251 AS v
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS r) r,
       (SELECT unnest(generate_series(0, 15)) AS c) c
)
SELECT asset_id, r // 2 AS block_r, c // 2 AS block_c,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS block_sum,
       ROUND(CAST(SUM(v) AS BIGINT) / CAST(COUNT(*) AS BIGINT), 4) + 0.0
         AS block_mean
FROM px GROUP BY asset_id, r // 2, c // 2
"""


# --------------------------------------------------------------------------
# Q170 — COMPLETE exact similarity join via prefix filtering
# (operators.dedup.prefix_filter_jaccard_pairs, the AllPairs/PPJoin
# rule): the third member of the near-dup triangle — hard blocking
# (q18: fast, boundary misses), LSH banding (q41: probabilistic
# recall), PREFIX FILTER (this: every pair >= t, GUARANTEED). The
# oracle replays df-ranked prefixes, the candidate join, and the
# exact verify.
# Q171 — sketch-quality certification: q41's LSH pair set measured
# against q170's complete ground truth. Precision must be exactly 1
# (LSH verifies with the same exact Jaccard); recall is the banding's
# deterministic operating point — both hash-gated, so the quality of
# the probabilistic index is itself under the correctness gate.
# --------------------------------------------------------------------------

def q170_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = prefix_filter_jaccard_pairs(docs, "doc_id", "text",
                                        k=3, threshold=0.3)
    return pairs.select("id_a", "id_b",
                        (F.round("jaccard", 6) + 0.0).alias("jaccard"))


_Q170_BODY = """
base AS (
  SELECT doc_id,
         list_distinct([
           list_aggregate(tok[i:i+2], 'string_agg', ' ')
           FOR i IN range(1, greatest(len(tok) - 2, 0) + 1)
         ]) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
        FROM documents)
), nz AS (
  SELECT doc_id, shingles FROM base WHERE len(shingles) > 0
), inv AS (
  SELECT doc_id, unnest(shingles) AS s FROM nz
), dfreq AS (
  SELECT s, COUNT(*) AS dfc FROM inv GROUP BY s
), ranked AS (
  SELECT i.doc_id, i.s,
         ROW_NUMBER() OVER (PARTITION BY i.doc_id
                            ORDER BY d.dfc, i.s) AS rn,
         len(z.shingles) AS n
  FROM inv i JOIN dfreq d USING (s) JOIN nz z USING (doc_id)
), pfx AS (
  SELECT doc_id, s FROM ranked
  WHERE rn <= floor((1.0 - 0.3) * n) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id
), common AS (
  -- candidate-RESTRICTED intersection count: the unrestricted
  -- postings self-join is sum df(s)^2 and exceeds the oracle budget
  -- at 50k docs; fanning cand over side-A postings
  -- bounds work by |cand| * avg-doc-shingles. ver already joined
  -- cand, so the output is unchanged.
  SELECT cd.id_a, cd.id_b, COUNT(*) AS c
  FROM cand cd
  JOIN inv a ON a.doc_id = cd.id_a
  JOIN inv b ON b.doc_id = cd.id_b AND b.s = a.s
  GROUP BY cd.id_a, cd.id_b
), szs AS (
  SELECT doc_id, len(shingles) AS n FROM nz
), ver AS (
  SELECT cm.id_a, cm.id_b,
         cm.c / (na.n + nb.n - cm.c) AS jaccard
  FROM common cm
  JOIN szs na ON na.doc_id = cm.id_a
  JOIN szs nb ON nb.doc_id = cm.id_b
  JOIN cand cd ON cd.id_a = cm.id_a AND cd.id_b = cm.id_b
)
"""

Q170_SQL = f"""
WITH {_Q170_BODY}
SELECT id_a, id_b, ROUND(jaccard, 6) + 0.0 AS jaccard
FROM ver WHERE jaccard >= 0.3
"""


def q171_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._cache import register_cache
    from ..operators.dedup import (prefix_filter_jaccard_pairs,
                                   shingle_base_cached)

    docs = read_table(spark, sf_dir, "documents", spread=True)
    # ONE persisted shingle pass feeds both sides: the exact truth join
    # and the LSH candidate/verify pipeline consume identical k=3
    # shingle sets, and unshared they each re-ran the interpreted
    # shingling HOF over the whole corpus (`found` mirrors q41's
    # minhash_lsh_pairs call by construction — shared _Q41_LSH_KWARGS —
    # so rows are unchanged, q171's oracle certifies it).
    #
    # The PAIR frames themselves also persist: the stats block consumes
    # `truth` twice (count + hit semi-join) and `found` twice (count +
    # hit), and AQE does not reuse them across branches, so unpersisted
    # the plan would run the full prefix-filter AND LSH pipelines twice
    # each. Two-long-column frames, bounded by the true/candidate pair
    # count; released by every harness.
    base = shingle_base_cached(docs, "doc_id", "text", k=3)
    truth = register_cache(
        prefix_filter_jaccard_pairs(docs, "doc_id", "text",
                                    k=3, threshold=0.3, base=base)
        .select("id_a", "id_b"))
    found = register_cache(
        minhash_lsh_pairs(docs, "doc_id", "text", base=base,
                          **_Q41_LSH_KWARGS).select("id_a", "id_b"))
    hit = found.join(truth, ["id_a", "id_b"], "left_semi")
    stats = (truth.agg(F.count(F.lit(1)).alias("n_true"))
             .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
             .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
    return (stats.select(
        "n_true", "n_found", "n_hit",
        (F.round(F.col("n_hit") / F.col("n_true"), 6) + 0.0)
         .alias("recall"),
        (F.round(F.col("n_hit") / F.col("n_found"), 6) + 0.0)
         .alias("precision"))
        .filter(F.col("n_true") > 0))  # empty corpus → 0 rows


Q171_SQL = f"""
WITH {_Q170_BODY},
truth AS MATERIALIZED (SELECT id_a, id_b FROM ver WHERE jaccard >= 0.3),
found AS MATERIALIZED (SELECT id_a, id_b FROM ({Q41_SQL})),
hit AS MATERIALIZED (SELECT f.id_a, f.id_b FROM found f
        JOIN truth t ON f.id_a = t.id_a AND f.id_b = t.id_b)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM found) AS n_found,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       ROUND((SELECT COUNT(*) FROM hit)
             / (SELECT COUNT(*) FROM truth), 6) + 0.0 AS recall,
       ROUND((SELECT COUNT(*) FROM hit)
             / (SELECT COUNT(*) FROM found), 6) + 0.0 AS precision
WHERE (SELECT COUNT(*) FROM truth) > 0
"""


# --------------------------------------------------------------------------
# Q189 — ANCHORED sampled LSH recall certification: q171 recomputes
# q170's COMPLETE exact truth set to score recall — the right
# correctness gate, but the heaviest query in the
# registry and not how a 100 TB deployment certifies its index. The
# scale path samples ANCHOR documents (fixed-size deterministic
# top-400 by md5(doc_id) — a TakeOrdered partial top-k, never a
# global sort) and certifies over the truth pairs with AT LEAST ONE
# anchor endpoint. Anchoring matters statistically: a naive "both
# endpoints sampled" design includes each true pair with probability
# f² — at 50k docs and f=0.8% the sampled truth set is EMPTY (
# measured on the sf1 dataset) — while anchor-incidence includes
# pairs at ~2f and every anchor contributes its full neighborhood.
# Truth = prefix-filtered exact join PROBED from the anchors' prefix
# tokens only (work bounded by anchor degree; the corpus pays one
# linear shingle/df/prefix pass, never the corpus² candidate join);
# found = q41's LSH with the band self-join probed from the anchors'
# band entries (band collision and verify are per-pair functions, so
# this EQUALS the full pair set restricted to anchor-incident pairs).
# Recall is reported PER SIMILARITY BAND (banding recall varies
# strongly with jaccard; one pooled number hides the operating
# curve). The oracle replays the restriction over the full
# constructions — oracle cost is a gate-scale concern, the Spark plan
# is the 100 TB artifact.
# --------------------------------------------------------------------------

_Q189_SAMPLE_N = 400


def q189_lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._cache import register_cache
    from ..operators.dedup import (prefix_filter_jaccard_pairs,
                                   shingle_base_cached)

    docs = read_table(spark, sf_dir, "documents")
    anchors = register_cache(
        docs.select("doc_id")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
            .limit(_Q189_SAMPLE_N))
    # shared shingle pass across the truth and LSH sides (the q171
    # optimization; anchor restriction composes unchanged — it semi-
    # joins candidate/prefix sides, never the base). Only the shingle
    # pass reads the table spread; the anchor sample stays one stage.
    base = shingle_base_cached(
        read_table(spark, sf_dir, "documents", spread=True),
        "doc_id", "text", k=3)
    truth = prefix_filter_jaccard_pairs(docs, "doc_id", "text",
                                        k=3, threshold=0.3,
                                        anchor_ids=anchors, base=base)
    found = minhash_lsh_pairs(docs, "doc_id", "text",
                              anchor_ids=anchors, base=base,
                              **_Q41_LSH_KWARGS) \
        .select("id_a", "id_b", F.lit(1).alias("_hit"))
    band = (F.when(F.col("jaccard") < 0.4, "[0.30,0.40)")
             .when(F.col("jaccard") < 0.5, "[0.40,0.50)")
             .when(F.col("jaccard") < 0.7, "[0.50,0.70)")
             .otherwise("[0.70,1.00]"))
    tagged = (truth.select("id_a", "id_b", band.alias("band"))
                   .join(found, ["id_a", "id_b"], "left"))
    return (tagged.groupBy("band")
                  .agg(F.count(F.lit(1)).alias("n_true"),
                       F.sum(F.coalesce("_hit", F.lit(0)))
                        .cast("long").alias("n_hit"))
                  .select("band", "n_true", "n_hit",
                          (F.round(F.col("n_hit") / F.col("n_true"), 6)
                           + 0.0).alias("recall")))


_Q189_ANCHORS = f"""
anchors AS (
  SELECT doc_id FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {_Q189_SAMPLE_N}
)"""

Q189_SQL = f"""
WITH {_Q189_ANCHORS},
{_Q170_BODY},
truth AS (
  SELECT id_a, id_b, jaccard FROM ver
  WHERE jaccard >= 0.3
    AND (id_a IN (SELECT doc_id FROM anchors)
         OR id_b IN (SELECT doc_id FROM anchors))
),
found AS (
  SELECT id_a, id_b FROM ({Q41_SQL})
  WHERE id_a IN (SELECT doc_id FROM anchors)
     OR id_b IN (SELECT doc_id FROM anchors)
),
tagged AS (
  SELECT t.id_a, t.id_b,
         CASE WHEN t.jaccard < 0.4 THEN '[0.30,0.40)'
              WHEN t.jaccard < 0.5 THEN '[0.40,0.50)'
              WHEN t.jaccard < 0.7 THEN '[0.50,0.70)'
              ELSE '[0.70,1.00]' END AS band,
         CASE WHEN f.id_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM truth t LEFT JOIN found f
    ON f.id_a = t.id_a AND f.id_b = t.id_b
)
SELECT band, COUNT(*) AS n_true, CAST(SUM(hit) AS BIGINT) AS n_hit,
       ROUND(SUM(hit) / COUNT(*), 6) + 0.0 AS recall
FROM tagged GROUP BY band
"""


# --------------------------------------------------------------------------
# Q190 — the FULL reference chain (ingest → transform → quality →
# metric) as ONE Structured-Streaming foreachBatch pipeline
# (streaming.chain). lineitem is staged as four
# parquet files, drained with maxFilesPerTrigger=1 (four genuine
# micro-batches through the real streaming runtime), each micro-batch
# runs the SAME conform + quality-split operators as the batch
# pipeline (pipeline.stage_transform/stage_quality), and commits its
# final/ + quarantine/ rows with its batch id in one manifest write
# (exactly-once under replay; pinned by tests/test_streaming.py
# driving the handler twice and across a crash). The metric then
# aggregates final/ — so the oracle (quality predicate + conform
# lowering replayed in SQL over the raw table) certifies the WHOLE
# chain end-to-end: one misrouted or double-appended row anywhere and
# the hash diverges.
# --------------------------------------------------------------------------

_CHAIN_RULES = (
    ("price_nonpos", "l_extendedprice <= 0"),
    ("qty_out_of_band", "l_quantity IS NULL OR l_quantity >= 48"),
)
_CHAIN_SEQ = None  # lazy itertools.count


def q190_stream_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import itertools
    import shutil

    from ..sources.table import Table
    from ..streaming.chain import run_stream_chain

    global _CHAIN_SEQ
    if _CHAIN_SEQ is None:
        _CHAIN_SEQ = itertools.count(1)

    li = read_table(spark, sf_dir, "lineitem")
    src = scratch_dir(spark, sf_dir, "chainsrc")
    # four range-partitioned files → four micro-batches downstream
    li.repartitionByRange(4, "l_orderkey") \
      .write.mode("overwrite").parquet(src)
    # one run root per build: repeat builds in one session re-drain fresh
    root = scratch_dir(spark, sf_dir, f"chain_{next(_CHAIN_SEQ)}")
    shutil.rmtree(root, ignore_errors=True)
    table_dir = os.path.join(root, "table")
    run_stream_chain(
        spark, source_dir=src, table_dir=table_dir,
        checkpoint_dir=os.path.join(root, "_ckpt"),
        rules=_CHAIN_RULES, max_files_per_trigger=1)
    final = Table(spark, table_dir).read("final")
    return (final.groupBy("l_returnflag", "l_linestatus")
                 .agg(F.count(F.lit(1)).alias("n_rows"),
                      dsum("l_quantity").alias("sum_qty"),
                      dsum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))).alias("revenue")))


Q190_SQL = f"""
SELECT lower(trim(l_returnflag)) AS l_returnflag,
       lower(trim(l_linestatus)) AS l_linestatus,
       COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
WHERE NOT COALESCE(l_extendedprice <= 0, FALSE)
  AND NOT COALESCE(l_quantity IS NULL OR l_quantity >= 48, FALSE)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Q191 — PERCEPTUAL image dedup: dHash over real
# BMP encode→decode, Hamming-banded near-dup join. Per-doc rasters are
# synthesized in clone GROUPS (4 consecutive doc_ids share a gradient
# pattern) with a per-doc BRIGHTNESS shift (+doc_id%4) that changes
# every pixel VALUE but no gradient SIGN — the group collides to one
# dHash, demonstrating exactly the invariance that makes the hash
# perceptual. Docs with doc_id%29==7 get one pixel zeroed (≤2 hash
# bits flip) and surface as hamming-1/2 near-dups. Candidates come
# from the 4×14-bit band join (pigeonhole-complete for hamming ≤ 3),
# verified by one codegen'd bit_count(xor). The oracle replays the
# pixels from the closed form (monotone-invariance means integer
# comparisons == decoded-float comparisons), the packed hash, the
# band join, and the popcount — every bit cross-engine-checked.
# --------------------------------------------------------------------------

def q191_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.dedup import hamming_banded_pairs
    from ..operators.multimodal import dhash_images, encode_bmp

    docs = read_table(spark, sf_dir, "documents", spread=True).select("doc_id")

    def _synth(batches):
        r = np.arange(8, dtype=np.int64)[:, None]
        c = np.arange(8, dtype=np.int64)[None, :]
        idx = r * 8 + c
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // 4
                # per-group raster: scaled CUBIC permutation mod the
                # prime 251 (x->x^3 is a bijection mod 251 since
                # gcd(3, 250) = 1). A linear gradient here collapses —
                # its dHash bit sequence is a Beatty wrap pattern with
                # only ~251 shapes, so thousands of groups share
                # near-identical hashes and cross-group "near-dup"
                # pairs grow quadratically; the cubic form measured
                # 3000/3000 distinct hashes and ZERO cross-group
                # hamming<=4 pairs at sf1-scale group counts.
                a = (g % 250) + 1
                b = (g // 250) % 251
                t = (idx + b) % 251
                v = np.minimum((a * (t * t % 251) * t) % 251, 249) \
                    + did % 4
                if did % 29 == 7:
                    v[3, 3] = 0
                payloads.append(encode_bmp(v.astype(np.uint8)))
                ids.append(did)
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "payload": payloads})

    assets = docs.mapInPandas(_synth, "asset_id long, payload binary")
    hashes = dhash_images(assets)
    # max_hamming == bands-1: the 4x14-bit band join is pigeonhole-
    # COMPLETE exactly through hamming 3 (any <=3-bit flip leaves >=1
    # band untouched). At max_hamming=4 a pair colliding in no band
    # would be silently dropped — and the synthesis only
    # produces hamming<=2 true pairs, so 3 loses nothing.
    return hamming_banded_pairs(hashes, "asset_id", "dhash",
                                bits=56, bands=4, max_hamming=3)


Q191_SQL = """
WITH p AS (
  SELECT doc_id,
         ((doc_id // 4) % 250) + 1 AS a,
         ((doc_id // 4) // 250) % 251 AS b,
         doc_id % 4 AS bias,
         (doc_id % 29 = 7) AS pert
  FROM documents
), px AS (
  SELECT doc_id,
         rr.r AS r, cc.c AS c,
         CASE WHEN pert AND rr.r = 3 AND cc.c = 3 THEN 0
              ELSE least((a * ((((rr.r * 8 + cc.c + b) % 251)
                                * ((rr.r * 8 + cc.c + b) % 251) % 251)
                               * ((rr.r * 8 + cc.c + b) % 251))) % 251,
                         249) + bias
         END AS v
  FROM p,
       (SELECT unnest(generate_series(0, 7)) AS r) rr,
       (SELECT unnest(generate_series(0, 7)) AS c) cc
), bits AS (
  SELECT doc_id, r, c,
         CASE WHEN v < lead(v) OVER (PARTITION BY doc_id, r ORDER BY c)
              THEN 1 ELSE 0 END AS bit
  FROM px
), h AS (
  SELECT doc_id,
         CAST(SUM(CAST(bit AS BIGINT) << (r * 7 + c)) AS BIGINT) AS dhash
  FROM bits WHERE c < 7 GROUP BY doc_id
), bands AS (
  SELECT doc_id, bb.b AS band_id,
         (dhash >> (bb.b * 14)) & 16383 AS band_val,
         dhash
  FROM h, (SELECT unnest(generate_series(0, 3)) AS b) bb
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.dhash AS h_a, b.dhash AS h_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
"""


# --------------------------------------------------------------------------
# Q172 — keep-BEST-copy dedup policy: near-dup components (q56's
# graph) where the survivor is the argmax-length member (ties to the
# lower id), not the min-id one — the curation policy real pipelines
# want (the longest copy of a near-dup cluster usually carries the
# least truncation). One window over the component-tagged corpus;
# singletons are their own component and always survive. Oracle:
# q56's recursive reachability walk + the identical argmax window.
# --------------------------------------------------------------------------

def q172_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import connected_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = _q18_pairs(spark, sf_dir)
    comps = (connected_components(pairs)
             .select(F.col("id").alias("doc_id"), "component"))
    n_tok = (F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
              .otherwise(F.size(F.split(F.trim("text"), r"\s+"))))
    tagged = (docs.select("doc_id", n_tok.cast("long").alias("n_tokens"))
                  .join(comps, "doc_id", "left")
                  .select("doc_id",
                          F.coalesce("component", "doc_id")
                           .alias("component"), "n_tokens"))
    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"),
                                                F.asc("doc_id"))
    return tagged.withColumn("keep", F.row_number().over(w) == 1) \
                 .select("doc_id", "component", "n_tokens", "keep")


Q172_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes(0.2)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
tagged AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
         CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
              END AS BIGINT) AS n_tokens
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, component, n_tokens,
       ROW_NUMBER() OVER (PARTITION BY component
                          ORDER BY n_tokens DESC, doc_id ASC) = 1 AS keep
FROM tagged
"""


# --------------------------------------------------------------------------
# Q173 — corpus-wide exact substring dedup WITH A SURVIVOR
# (operators.dedup.crossdoc_span_dedup): every repeated token 5-gram
# keeps its lexicographically-first (doc, pos) occurrence and is
# excised everywhere else — the keep-one policy of Lee et al.'s
# suffix-array dedup, complementing q152's excise-ALL policy. The
# oracle encodes the survivor as min(doc_id*1e6 + p) (positions are
# far below 1e6, so the encoding IS the lexicographic struct order
# the Spark plan uses).
# --------------------------------------------------------------------------

def q173_crossdoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import crossdoc_span_dedup

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return crossdoc_span_dedup(docs, "doc_id", "text", k=5)


Q173_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
  FROM documents
), gl AS (
  SELECT doc_id, list_transform(generate_series(1, len(w)-5+1),
                 i -> md5(array_to_string(w[i:i+4], ' '))) AS g
  FROM base WHERE len(w) >= 5
), grams AS (
  SELECT doc_id, generate_subscripts(g,1)-1 AS p, unnest(g) AS gh FROM gl
), surv AS (
  SELECT gh, MIN(doc_id*1000000 + p) AS skey
  FROM grams GROUP BY gh HAVING count(*) >= 2
), bad AS (
  SELECT g.doc_id, g.p
  FROM grams g JOIN surv s USING (gh)
  WHERE g.doc_id*1000000 + g.p <> s.skey
), brk AS (
  SELECT doc_id, p,
         CASE WHEN p > COALESCE(MAX(p) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -6) + 5
              THEN 1 ELSE 0 END AS b
  FROM bad
), isl AS (
  SELECT doc_id, p, SUM(b) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
  FROM brk
), spans AS (
  SELECT doc_id, iid, MIN(p) AS s, MAX(p)+4 AS e
  FROM isl GROUP BY doc_id, iid
), spanstats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(SUM(e-s+1) AS BIGINT) AS dropped_tokens
  FROM spans GROUP BY doc_id
), toks AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w,1)-1 AS pos FROM base
), kept AS (
  SELECT t.doc_id, t.word, t.pos
  FROM toks t LEFT JOIN spans sp
    ON t.doc_id = sp.doc_id AND t.pos BETWEEN sp.s AND sp.e
  WHERE sp.s IS NULL
), agg AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.w) AS BIGINT) AS n_tokens,
       COALESCE(ss.dropped_tokens, 0) AS dropped_tokens,
       COALESCE(ss.n_spans, 0) AS n_spans,
       COALESCE(a.clean_text, '') AS clean_text
FROM base b
LEFT JOIN spanstats ss USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------------
# Q174 — PII redaction pass: detect + mask emails / IPv4s / US-style
# phone numbers with JVM-regex chains (no Python in the hot path).
# The corpus is synthetic, so deterministic PII-shaped strings are
# fabricated per doc (doc_id-derived email for every doc, IP for even
# ids, phone for ids % 3 == 0) and then redacted — the gate certifies
# detection counts AND the masked text byte-for-byte across engines.
# Patterns stay in the Java∩RE2 common subset (\b, \d, bounded
# classes) so both engines see identical match sets.
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def q174_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    email = F.concat(F.lit("user"), did.cast("string"),
                     F.lit("@example.com"))
    ip = F.when(did % 2 == 0,
                F.concat(F.lit("10.0."), (did % 256).cast("string"),
                         F.lit("."),
                         (F.floor(did / 256) % 256).cast("string")))
    phone = F.when(did % 3 == 0,
                   F.concat(F.lit("555-"),
                            F.lpad((did % 1000).cast("string"), 3, "0"),
                            F.lit("-"),
                            F.lpad((did % 10000).cast("string"), 4, "0")))
    fab = F.concat_ws(" ", F.col("text"), email, ip, phone)
    d = docs.select("doc_id", fab.alias("_t"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("_t", _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("_t", F.lit(_PII_EMAIL), F.lit(0)))
         .cast("long").alias("n_email"),
        F.size(F.regexp_extract_all("_t", F.lit(_PII_IP), F.lit(0)))
         .cast("long").alias("n_ip"),
        F.size(F.regexp_extract_all("_t", F.lit(_PII_PHONE), F.lit(0)))
         .cast("long").alias("n_phone"),
        red.alias("redacted"))


Q174_SQL = r"""
WITH fab AS (
  SELECT doc_id,
         concat_ws(' ', text,
                   'user' || CAST(doc_id AS VARCHAR) || '@example.com',
                   CASE WHEN doc_id % 2 = 0 THEN
                     '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                     CAST(CAST(floor(doc_id / 256) AS BIGINT) % 256 AS VARCHAR)
                   END,
                   CASE WHEN doc_id % 3 = 0 THEN
                     '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   END) AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(t,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(t,
         '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
       regexp_replace(regexp_replace(regexp_replace(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
FROM fab
"""


# --------------------------------------------------------------------------
# Q175 — logistic regression via TWO fixed IRLS iterations, fully
# declarative (the classification sibling of q155's ridge): label
# y = (l_returnflag = 'R'), features (1, quantity/50, discount*10).
# Iteration 1 from beta=0 collapses to a closed-form weighted
# least-squares (W = 1/4); iteration 2 recomputes per-row weights
# p(1-p) against the broadcast beta and re-solves. Every sum is a
# rounded-then-DECIMAL reduction, both normal-equation solves are the
# same 3x3 cofactor expressions q155 uses, and zero rows are
# collected — each iteration is ONE scan + one scalar broadcast, so
# iteration count (not data) bounds plan depth at any corpus size.
# --------------------------------------------------------------------------

def _irls_ds(c):
    """Rounded-then-DECIMAL sum: the engine/partition-stable reduction
    every IRLS moment uses."""
    return F.sum(F.round(c, 10).cast("decimal(38,10)")).cast("double")


def _solve3(m11, m12, m13, m22, m23, m33, t0, t1, t2, scale):
    """Closed-form 3x3 normal-equation solve by cofactor expansion,
    each coefficient rounded to ``scale`` (shared by q155/q175/q181)."""
    from ..functions.deterministic import rnd0

    det = (m11 * (m22 * m33 - m23 * m23)
           - m12 * (m12 * m33 - m23 * m13)
           + m13 * (m12 * m23 - m22 * m13))
    det0 = (t0 * (m22 * m33 - m23 * m23)
            - m12 * (t1 * m33 - m23 * t2)
            + m13 * (t1 * m23 - m22 * t2))
    det1 = (m11 * (t1 * m33 - m23 * t2)
            - t0 * (m12 * m33 - m23 * m13)
            + m13 * (m12 * t2 - t1 * m13))
    det2 = (m11 * (m22 * t2 - t1 * m23)
            - m12 * (m12 * t2 - t1 * m13)
            + t0 * (m12 * m23 - m22 * m13))
    return (rnd0(det0 / det, scale), rnd0(det1 / det, scale),
            rnd0(det2 / det, scale))


def _logistic_irls2(d: DataFrame) -> DataFrame:
    """Two declarative IRLS iterations over (x1, x2, y) — returns ONE
    row (n_rows, b0, b1, b2, mean_p); zero rows on empty input. Each
    iteration is one scan + one scalar broadcast, so iteration count
    (not data) bounds plan depth at any corpus size. Callers read a
    narrow input with ``spread=True``: the iteration-2 stage's per-row
    round/exp chains measured 10.8 s on one partition vs ~1 s spread at
    sf0.1. Partition-order-safe: every sum is rounded-then-DECIMAL."""
    from ..functions.deterministic import rnd0

    ds = _irls_ds
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    s = d.agg(F.count(F.lit(1)).cast("double").alias("n"),
              ds(x1).alias("s1"), ds(x2).alias("s2"),
              ds(x1 * x1).alias("s11"), ds(x1 * x2).alias("s12"),
              ds(x2 * x2).alias("s22"), ds(y).alias("sy"),
              ds(x1 * y).alias("s1y"), ds(x2 * y).alias("s2y"))
    c = F.col
    # beta1 = 4 * (X'X)^-1 X'(y - 1/2): the exact first IRLS step
    b0a, b1a, b2a = _solve3(c("n"), c("s1"), c("s2"), c("s11"),
                            c("s12"), c("s22"),
                            4.0 * (c("sy") - 0.5 * c("n")),
                            4.0 * (c("s1y") - 0.5 * c("s1")),
                            4.0 * (c("s2y") - 0.5 * c("s2")), 12)
    beta1 = s.select(b0a.alias("c0"), b1a.alias("c1"), b2a.alias("c2"))

    it2 = (d.crossJoin(F.broadcast(beta1))
             .withColumn("u", F.round(c("c0") + c("c1") * x1
                                      + c("c2") * x2, 12))
             .withColumn("p", F.round(1.0 / (1.0 + F.exp(-c("u"))), 9))
             .withColumn("wt", F.round(c("p") * (1.0 - c("p")), 12))
             .withColumn("g", F.round(c("wt") * c("u")
                                      + (y - c("p")), 12)))
    wt, g = c("wt"), c("g")
    s2f = it2.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  ds(wt).alias("m11"), ds(wt * x1).alias("m12"),
                  ds(wt * x2).alias("m13"), ds(wt * x1 * x1).alias("m22"),
                  ds(wt * x1 * x2).alias("m23"),
                  ds(wt * x2 * x2).alias("m33"),
                  ds(g).alias("t0"), ds(g * x1).alias("t1"),
                  ds(g * x2).alias("t2"),
                  ds(c("p")).alias("sp"))
    b0, b1, b2 = _solve3(c("m11"), c("m12"), c("m13"), c("m22"),
                         c("m23"), c("m33"), c("t0"), c("t1"), c("t2"), 6)
    return s2f.select("n_rows", b0.alias("b0"), b1.alias("b1"),
                      b2.alias("b2"),
                      rnd0(c("sp") / c("n_rows"), 6).alias("mean_p")) \
              .filter(c("n_rows") > 0)


def q175_logistic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem", spread=True)
    d = li.select(
        (F.col("l_quantity").cast("double") / 50.0).alias("x1"),
        (F.col("l_discount").cast("double") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"))
    return _logistic_irls2(d)


Q175_SQL = """
WITH d AS (
  SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
         CAST(l_discount AS DOUBLE) * 10.0 AS x2,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(ROUND(x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(ROUND(x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(ROUND(x1 * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s11,
         CAST(SUM(CAST(ROUND(x1 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(ROUND(x2 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(ROUND(y, 10) AS DECIMAL(38,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x1 * y, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(ROUND(x2 * y, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s2y
  FROM d
), b1 AS (
  SELECT
    (ROUND(((4.0 * (sy - 0.5 * n)) * (s11 * s22 - s12 * s12)
      - s1 * ((4.0 * (s1y - 0.5 * s1)) * s22 - s12 * (4.0 * (s2y - 0.5 * s2)))
      + s2 * ((4.0 * (s1y - 0.5 * s1)) * s12 - s11 * (4.0 * (s2y - 0.5 * s2))))
      / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)), 12) + 0.0) AS c0,
    (ROUND((n * ((4.0 * (s1y - 0.5 * s1)) * s22 - s12 * (4.0 * (s2y - 0.5 * s2)))
      - (4.0 * (sy - 0.5 * n)) * (s1 * s22 - s12 * s2)
      + s2 * (s1 * (4.0 * (s2y - 0.5 * s2)) - (4.0 * (s1y - 0.5 * s1)) * s2))
      / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)), 12) + 0.0) AS c1,
    (ROUND((n * (s11 * (4.0 * (s2y - 0.5 * s2)) - (4.0 * (s1y - 0.5 * s1)) * s12)
      - s1 * (s1 * (4.0 * (s2y - 0.5 * s2)) - (4.0 * (s1y - 0.5 * s1)) * s2)
      + (4.0 * (sy - 0.5 * n)) * (s1 * s12 - s11 * s2))
      / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)), 12) + 0.0) AS c2
  FROM s
), it2 AS (
  SELECT x1, x2, y, u, p,
         ROUND(p * (1.0 - p), 12) AS wt,
         ROUND(ROUND(p * (1.0 - p), 12) * u + (y - p), 12) AS g
  FROM (SELECT d.*, u, ROUND(1.0 / (1.0 + exp(-u)), 9) AS p
        FROM (SELECT d.*, ROUND(c0 + c1 * x1 + c2 * x2, 12) AS u
              FROM d CROSS JOIN b1) d)
), s2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(wt, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m11,
         CAST(SUM(CAST(ROUND(wt * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m12,
         CAST(SUM(CAST(ROUND(wt * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m13,
         CAST(SUM(CAST(ROUND(wt * x1 * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m22,
         CAST(SUM(CAST(ROUND(wt * x1 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m23,
         CAST(SUM(CAST(ROUND(wt * x2 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m33,
         CAST(SUM(CAST(ROUND(g, 10) AS DECIMAL(38,10))) AS DOUBLE) AS t0,
         CAST(SUM(CAST(ROUND(g * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS t1,
         CAST(SUM(CAST(ROUND(g * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS t2,
         CAST(SUM(CAST(ROUND(p, 10) AS DECIMAL(38,10))) AS DOUBLE) AS sp
  FROM it2
)
SELECT n_rows,
  (ROUND((t0 * (m22 * m33 - m23 * m23) - m12 * (t1 * m33 - m23 * t2)
    + m13 * (t1 * m23 - m22 * t2))
    / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
       + m13 * (m12 * m23 - m22 * m13)), 6) + 0.0) AS b0,
  (ROUND((m11 * (t1 * m33 - m23 * t2) - t0 * (m12 * m33 - m23 * m13)
    + m13 * (m12 * t2 - t1 * m13))
    / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
       + m13 * (m12 * m23 - m22 * m13)), 6) + 0.0) AS b1,
  (ROUND((m11 * (m22 * t2 - t1 * m23) - m12 * (m12 * t2 - t1 * m13)
    + t0 * (m12 * m23 - m22 * m13))
    / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
       + m13 * (m12 * m23 - m22 * m13)), 6) + 0.0) AS b2,
  (ROUND(sp / n_rows, 6) + 0.0) AS mean_p
FROM s2
WHERE n_rows > 0
"""


# --------------------------------------------------------------------------
# Q176 — per-dimension embedding standardization (z-score): corpus
# moments per dimension from one decimal-exact pass, standardized
# values served for an id-bounded slice. The feature-normalization
# step in front of any distance-based ANN/clustering stage; moments
# are map-side-combinable aggregates, the serve join broadcasts 8
# stat rows, and nothing about the plan changes at 100 TB.
# --------------------------------------------------------------------------

def q176_embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.deterministic import rnd0

    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id",
                    F.posexplode(F.col("embedding").cast("array<double>"))
                     .alias("dim", "v"))
    DEC = "decimal(38,12)"
    v = F.col("v")
    st = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sv"),
        F.sum((v * v).cast(DEC)).cast("double").alias("svv"))
    st = st.select(
        "dim",
        F.round(F.col("sv") / F.col("n"), 12).alias("mu"),
        F.round(F.sqrt(F.greatest(
            F.col("svv") / F.col("n")
            - (F.col("sv") / F.col("n")) * (F.col("sv") / F.col("n")),
            F.lit(0.0))), 12).alias("sd"))
    z = F.when(F.col("sd") == 0.0, F.lit(0.0)) \
         .otherwise(rnd0((v - F.col("mu")) / F.col("sd"), 6))
    return (ex.filter(F.col("vec_id") < 50)
              .join(F.broadcast(st), "dim")
              .select("vec_id", F.col("dim").cast("long").alias("dim"),
                      z.alias("z")))


Q176_SQL = """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), st0 AS (
  SELECT dim, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sv,
         CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS svv
  FROM ex GROUP BY dim
), st AS (
  SELECT dim, ROUND(sv / n, 12) AS mu,
         ROUND(sqrt(greatest(svv / n - (sv / n) * (sv / n), 0.0)), 12) AS sd
  FROM st0
)
SELECT e.vec_id, CAST(e.dim AS BIGINT) AS dim,
       CASE WHEN s.sd = 0.0 THEN 0.0
            ELSE (ROUND((e.v - s.mu) / s.sd, 6) + 0.0) END AS z
FROM ex e JOIN st s USING (dim)
WHERE e.vec_id < 50
"""


# --------------------------------------------------------------------------
# Q177 — winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken
# 2003, the MOSS algorithm): rightmost-min-per-window k-gram selection
# gives ~1/w of the grams with a GUARANTEE that any shared run of
# >= w+k-1 tokens yields a shared fingerprint — deterministic partial-
# overlap detection, the policy between MinHash (whole-doc) and
# repeated-span excision (every gram). Selection is one window min
# over the integer encoding h*2^20 + (2^20-1-p); pairs join through a
# df-capped fingerprint index (hot boilerplate fingerprints excluded,
# the same discipline as tfidf_cosine_pairs).
# --------------------------------------------------------------------------

def q177_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnowing_pairs

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return winnowing_pairs(docs, "doc_id", "text", k=4, w=5,
                           min_shared=2, max_fp_df=100)


Q177_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS t
  FROM documents
), gl AS (
  SELECT doc_id, list_transform(generate_series(1, len(t)-4+1),
                 i -> array_to_string(t[i:i+3], ' ')) AS g
  FROM base WHERE len(t) >= 4
), keyed AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(g)),
           i -> (CAST(('0x' || substr(md5(g[i]),1,15)) AS BIGINT)
                 % 1099511627776) * 1048576
                + (1048575 - (i - 1))) AS ks
  FROM gl
), sel AS (
  SELECT DISTINCT doc_id, unnest(
           list_distinct(list_transform(
             generate_series(1, greatest(len(ks) - 5, 0) + 1),
             s -> list_min(ks[s:s+4]) // 1048576))) AS fp
  FROM keyed WHERE len(ks) > 0
), live AS (
  SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 100
), s AS (
  SELECT sel.doc_id, sel.fp FROM sel JOIN live USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM s a JOIN s b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


# --------------------------------------------------------------------------
# Q178 — DSIR-style importance weights (Xie et al. 2023): hashed-
# unigram bucket distributions for the TARGET slice (lang='en') vs
# the raw corpus, Laplace-smoothed; each document scores the sum of
# per-token log probability ratios. The data-SELECTION step of a
# pretraining pipeline — downstream resampling keeps target-like
# documents. 512 bucket-stat rows broadcast to the scoring join.
# --------------------------------------------------------------------------

def q178_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import dsir_importance_weights

    docs = read_table(spark, sf_dir, "documents")
    return dsir_importance_weights(docs, "doc_id", "text",
                                   F.col("lang") == "en", n_buckets=512)


Q178_SQL = r"""
WITH toks AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents WHERE length(trim(text)) > 0
), bk AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substr(md5(word),1,15)) AS BIGINT) % 512 AS b
  FROM toks
), doc_b AS (
  SELECT doc_id, b, count(*) AS n_db FROM bk GROUP BY 1, 2
), stats AS (
  SELECT b, count(*) AS c_raw, SUM(is_t) AS c_tgt FROM bk GROUP BY 1
), tot AS (
  SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM stats
), rates AS (
  SELECT b, ROUND(ln(((c_tgt + 1.0) / (t_tgt + 512.0))
                  / ((c_raw + 1.0) / (t_raw + 512.0))), 12) AS term
  FROM stats CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(n_db) AS BIGINT) AS n_tokens,
       (ROUND(CAST(SUM(CAST(n_db * term AS DECIMAL(38,12))) AS DOUBLE),
              6) + 0.0) AS log_weight
FROM doc_b JOIN rates USING (b)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Q179 — Jensen-Shannon divergence between the unigram distributions
# of two corpus slices (lang='en' vs the rest): the bounded, symmetric
# drift measure for monitoring domain-mixture shift between corpus
# snapshots. One shuffle on word; per-word terms decimal-summed.
# --------------------------------------------------------------------------

def q179_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import js_divergence_slices

    docs = read_table(spark, sf_dir, "documents")
    return js_divergence_slices(docs, "text", F.col("lang") == "en")


Q179_SQL = r"""
WITH toks AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_p,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents WHERE length(trim(text)) > 0
), wc AS (
  SELECT word, SUM(in_p) AS cp, SUM(1 - in_p) AS cq
  FROM toks GROUP BY word
), tot AS (
  SELECT SUM(cp) AS np, SUM(cq) AS nq FROM wc
), terms AS (
  SELECT word, cp, cq, np, nq,
         CASE WHEN cp > 0 THEN (cp/np) * ln((cp/np)
              / ((cp/np + cq/nq) / 2.0)) ELSE 0.0 END AS tp,
         CASE WHEN cq > 0 THEN (cq/nq) * ln((cq/nq)
              / ((cp/np + cq/nq) / 2.0)) ELSE 0.0 END AS tq
  FROM wc CROSS JOIN tot
)
SELECT CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(MAX(np) AS BIGINT) AS tokens_p,
       CAST(MAX(nq) AS BIGINT) AS tokens_q,
       (ROUND(CAST(SUM(CAST(ROUND(0.5 * tp + 0.5 * tq, 12)
                            AS DECIMAL(38,12))) AS DOUBLE), 6) + 0.0)
         AS js_nats
FROM terms
HAVING MAX(np) > 0 AND MAX(nq) > 0
"""


# --------------------------------------------------------------------------
# Q180 — mergeable histogram-quantile sketch over line revenue:
# decimal-digit buckets (length, first-two-digits of exact cents) so
# the bucketing is bit-identical across engines (log-boundary values
# are libm-dependent; string digits are not), bounded state per group
# (<= 9*19 buckets no matter the row count), quantile = lower bound
# of the first bucket reaching ceil(q*n). The deterministic stand-in
# for approx_percentile/t-digest in the sketch family.
# --------------------------------------------------------------------------

def q180_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import decimal_histogram_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    return decimal_histogram_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        quantiles=[0.5, 0.95, 0.99])


Q180_SQL = """
WITH d AS (
  SELECT l_returnflag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice > 0
), h AS (
  SELECT l_returnflag,
         length(CAST(c AS VARCHAR)) * 100
           + CAST(substr(CAST(c AS VARCHAR), 1, 2) AS INT) AS bucket,
         CAST(substr(CAST(c AS VARCHAR), 1, 2) AS DOUBLE)
           * power(10, length(CAST(c AS VARCHAR)) - 2) AS lower_cents,
         count(*) AS cnt
  FROM d GROUP BY 1, 2, 3
), w AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY l_returnflag) AS n,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM h
)
SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN lower_cents END)
             / 100.0, 2) AS p50,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN lower_cents END)
             / 100.0, 2) AS p95,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN lower_cents END)
             / 100.0, 2) AS p99
FROM w
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Q182 — STREAMING quantile sketch: the decimal-digit histogram's
# bucket counts are a plain streaming groupBy-count (bounded state:
# <= 9*19 buckets per group, merged by addition — the defining sketch
# property), drained with Trigger.AvailableNow through the real
# streaming runtime, then quantiles extracted from the final
# histogram. Proves the q180 sketch serves the continuous-ingest
# path: a production deployment keeps the bucket-count aggregation
# running and reads quantiles off the sink at any time. The oracle
# replays the whole histogram + extraction in batch SQL — streaming
# drain result == batch result is exactly the certification.
# --------------------------------------------------------------------------

def q182_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (decimal_histogram,
                                      quantiles_from_histogram)
    from ..streaming.stream import run_rollup_available_now

    src = read_table_stream(spark, sf_dir, "events")
    hist = decimal_histogram(src, ["event_type"], "value")
    final_hist = run_rollup_available_now(hist, state_partitions=4)
    return quantiles_from_histogram(final_hist, ["event_type"],
                                    [0.5, 0.95, 0.99])


Q182_SQL = """
WITH d AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events WHERE value > 0
), h AS (
  SELECT event_type,
         length(CAST(c AS VARCHAR)) * 100
           + CAST(substr(CAST(c AS VARCHAR), 1, 2) AS INT) AS bucket,
         CAST(substr(CAST(c AS VARCHAR), 1, 2) AS DOUBLE)
           * power(10, length(CAST(c AS VARCHAR)) - 2) AS lower_cents,
         count(*) AS cnt
  FROM d GROUP BY 1, 2, 3
), w AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY event_type) AS n,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM h
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN lower_cents END)
             / 100.0, 2) AS p50,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN lower_cents END)
             / 100.0, 2) AS p95,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN lower_cents END)
             / 100.0, 2) AS p99
FROM w
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Q183 — STREAMING benchmark decontamination: the q58 containment
# check moved to the ingest path — incoming corpus documents (the
# stream) are shingled and joined against the STATIC benchmark
# shingle index (broadcast into every micro-batch; the stream side
# never shuffles for the join), shared-shingle counts accumulate in
# the state store, and flagged pairs read off the drain. This is how
# a production crawl pipeline decontaminates LIVE instead of in a
# nightly batch. Same corpus/bench split, same threshold, same output
# as q58 — so the BATCH oracle certifies the STREAMING path
# end-to-end (drain == batch is the whole point).
# --------------------------------------------------------------------------

def q183_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_shingles
    from ..streaming.stream import run_rollup_available_now

    docs_s = read_table_stream(spark, sf_dir, "documents")
    docs_b = read_table(spark, sf_dir, "documents")
    bench_sh = (docs_b.filter(F.col("doc_id") % 10 == 0)
                      .select(F.col("doc_id").alias("bench_id"),
                              F.explode(word_shingles(F.col("text"), 3))
                               .alias("sh")))
    bsizes = (bench_sh.groupBy("bench_id")
                      .agg(F.count(F.lit(1)).alias("n_b")))
    stream_sh = (docs_s.filter(F.col("doc_id") % 10 != 0)
                       .select(F.col("doc_id").alias("corpus_id"),
                               F.explode(word_shingles(F.col("text"), 3))
                                .alias("sh")))
    shared = (stream_sh.join(F.broadcast(bench_sh), "sh")
                       .groupBy("corpus_id", "bench_id")
                       .agg(F.count(F.lit(1)).alias("shared")))
    final = run_rollup_available_now(shared, state_partitions=4)
    return (final.join(F.broadcast(bsizes), "bench_id")
                 .withColumn("containment", F.col("shared") / F.col("n_b"))
                 .filter(F.col("containment") >= 0.5)
                 .select("corpus_id", "bench_id", "containment"))


# --------------------------------------------------------------------------
# Q184 — hard-negative mining for contrastive training: per query
# vector, the top-k MOST similar candidates that are NOT
# near-duplicates (cosine < 0.98). A plain kNN hands back the query's
# own clones as "negatives" — catastrophic for a contrastive
# objective; the corpus' clone groups make the exclusion observable
# in the output. Exclusion runs BEFORE the per-query top-k (filtering
# a plain top-k after the fact would under-fill). Broadcast-query
# scored stage, norms projected once per side.
# --------------------------------------------------------------------------

def q184_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negative_mine

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    return hard_negative_mine(queries, emb, k=5, dup_threshold=0.98)


Q184_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 16),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS c_vec
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.q_vec, c.c_vec)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) + 0.0 AS cosine
  FROM q JOIN c ON q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(neg_rank AS BIGINT) AS neg_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
               AS neg_rank
      FROM scored WHERE cosine < 0.98)
WHERE neg_rank <= 5
"""


# --------------------------------------------------------------------------
# Q185 — end-to-end curation FUNNEL: the composed pipeline a real
# pretraining-data team runs (langid -> Gopher quality rules -> exact
# dedup keep-first), reported as per-stage survival (n_docs,
# n_tokens) so attrition is auditable stage by stage. One scan
# computes every stage flag (flags are cheap column predicates); the
# only shuffle is the dedup canonical-per-digest aggregate over the
# stage-2 survivors; the four stage rows come from conditional
# aggregates unpivoted with stack(). Composes q15's langid, q148's
# rule mask, and q24's canonical digest — each already independently
# hash-certified; this certifies their COMPOSITION.
# --------------------------------------------------------------------------

def q185_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import fingerprint_md5, langid_en_heuristic
    from ..operators.webtext import gopher_flags

    docs = read_table(spark, sf_dir, "documents")
    g = gopher_flags(docs, "text").select(
        "doc_id", "n_words", F.col("keep").alias("_gk"))
    flags = (docs.select(
                "doc_id",
                (langid_en_heuristic(F.col("text")) == "en").alias("p1"),
                fingerprint_md5(F.col("text")).alias("dig"))
             .join(g, "doc_id")
             .withColumn("p2", F.col("p1") & F.col("_gk")))
    canon = (flags.filter(F.col("p2"))
                  .groupBy("dig")
                  .agg(F.min("doc_id").alias("_mid")))
    f = (flags.join(canon, "dig", "left")
              .withColumn("p3", F.col("p2")
                          & (F.col("doc_id") == F.col("_mid"))))
    nw = F.col("n_words").cast("long")
    agg = f.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(nw).alias("t0"),
        F.sum(F.when(F.col("p1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("p1"), nw).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("p2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("p2"), nw).otherwise(0)).alias("t2"),
        F.sum(F.when(F.col("p3"), 1).otherwise(0)).cast("long").alias("n3"),
        F.sum(F.when(F.col("p3"), nw).otherwise(0)).alias("t3"))
    return agg.filter(F.col("n0") > 0).select(F.expr(
        "stack(4, 0, 'ingest', n0, t0, 1, 'langid_en', n1, t1, "
        "2, 'gopher_rules', n2, t2, 3, 'exact_dedup', n3, t3) "
        "AS (stage_ord, stage, n_docs, n_tokens)"))


Q185_SQL = f"""
WITH t AS (
  SELECT doc_id, trim(text) AS text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS dig
  FROM documents
), s AS (
  SELECT doc_id, dig,
         CASE WHEN text = '' THEN 0 ELSE len(toks) END AS n_words,
         len(regexp_replace(text, '\\s+', '', 'g')) AS chars_no_ws,
         len(list_intersect(toks, ['the', 'a', 'of', 'to', 'and']))
           AS stop_hits,
         len(list_distinct(toks)) AS n_uniq,
         CASE WHEN len(ltoks) = 0 THEN 0.0
              ELSE len(list_filter(ltoks, x -> x IN ({_STOP_SQL})))
                   / len(ltoks) END AS stop_ratio
  FROM t
), fl AS (
  SELECT doc_id, dig, n_words,
         stop_ratio >= 0.12 AS p1,
         (stop_ratio >= 0.12) AND (
           ((n_words < 15 OR n_words > 100000)::INT
            + (CASE WHEN n_words > 0
                    THEN CAST(chars_no_ws AS DOUBLE) / n_words
                    ELSE 0.0 END < 2.0
               OR CASE WHEN n_words > 0
                       THEN CAST(chars_no_ws AS DOUBLE) / n_words
                       ELSE 0.0 END > 10.0)::INT
            + (stop_hits < 1)::INT
            + (CASE WHEN n_words > 0
                    THEN CAST(n_uniq AS DOUBLE) / n_words
                    ELSE 0.0 END < 0.2)::INT) = 0) AS p2
  FROM s
), canon AS (
  SELECT dig, MIN(doc_id) AS mid FROM fl WHERE p2 GROUP BY dig
), f AS (
  SELECT fl.*, fl.p2 AND fl.doc_id = canon.mid AS p3
  FROM fl LEFT JOIN canon ON fl.dig = canon.dig
)
SELECT 0 AS stage_ord, 'ingest' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens FROM f HAVING COUNT(*) > 0
UNION ALL
SELECT 1, 'langid_en', CAST(SUM(p1::INT) AS BIGINT),
       CAST(SUM(CASE WHEN p1 THEN n_words ELSE 0 END) AS BIGINT)
FROM f HAVING COUNT(*) > 0
UNION ALL
SELECT 2, 'gopher_rules', CAST(SUM(p2::INT) AS BIGINT),
       CAST(SUM(CASE WHEN p2 THEN n_words ELSE 0 END) AS BIGINT)
FROM f HAVING COUNT(*) > 0
UNION ALL
SELECT 3, 'exact_dedup', CAST(SUM(COALESCE(p3, FALSE)::INT) AS BIGINT),
       CAST(SUM(CASE WHEN COALESCE(p3, FALSE) THEN n_words ELSE 0 END)
            AS BIGINT) FROM f HAVING COUNT(*) > 0
"""


# --------------------------------------------------------------------------
# Q186 — vocabulary coverage curve: rank tokens by corpus frequency
# and report, at each vocab-size decile, what fraction of all token
# OCCURRENCES the vocabulary prefix covers — the curve that sizes a
# tokenizer's vocab (where it flattens, stop adding entries). One
# token-keyed shuffle to count; the ranked cumulative sum runs over
# the DISTINCT-TOKEN aggregate (bounded by vocab size, not corpus
# size — the same bounded-window argument as q08's global rank).
# --------------------------------------------------------------------------

def q186_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("tok"))
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (counts.withColumn("rnk", F.row_number().over(w))
                    .withColumn("cum", F.sum("c").over(wcum)))
    # cuts derive LAZILY from the vocab-size aggregate (no collect):
    # 10 decile rows cross-joined to the 1-row total
    tot = ranked.agg(F.max("rnk").alias("v"),
                     F.sum("c").cast("double").alias("n"))
    d10 = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
    cuts = (d10.crossJoin(F.broadcast(tot))
               .select("decile",
                       F.ceil(F.col("v") * F.col("decile") / 10.0)
                        .cast("long").alias("vocab"),
                       "n"))
    return (ranked.join(F.broadcast(cuts), ranked["rnk"] == cuts["vocab"])
                  .select("decile", "vocab",
                          (F.round(F.col("cum") / F.col("n"), 6)
                           + 0.0).alias("coverage")))


Q186_SQL = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), counts AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
), ranked AS (
  SELECT tok, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk,
         SUM(c) OVER (ORDER BY c DESC, tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM counts
), tot AS (
  SELECT MAX(rnk) AS v, CAST(SUM(c) AS DOUBLE) AS n FROM ranked
), cuts AS (
  SELECT CAST(d AS INTEGER) AS decile,
         CAST(CEIL(v * d / 10.0) AS BIGINT) AS vocab, n
  FROM tot, generate_series(1, 10) AS t(d)
)
SELECT c.decile, c.vocab,
       (ROUND(r.cum / c.n, 6) + 0.0) AS coverage
FROM ranked r JOIN cuts c ON r.rnk = c.vocab
"""


# --------------------------------------------------------------------------
# Q187 — hourly gap-fill with LINEAR INTERPOLATION (the resample
# operator time-series stores ship; complements q91's LOCF): per-user
# hourly means, missing grid hours synthesized between the previous
# and next OBSERVED hour as prev + (next-prev) * elapsed/gap. The
# grid explodes per user between first and last observed hour
# (bounded by the window span), neighbor lookup is two
# last/first-value-IGNORE-NULLS windows per user — no self-joins, no
# iteration, scale bounded by grid rows.
# --------------------------------------------------------------------------

def q187_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    obs = (ev.filter(F.col("user_id") < 50)
             .select("user_id",
                     F.date_trunc("hour", F.col("ts")).alias("h"),
                     F.col("value"))
             .groupBy("user_id", "h")
             .agg((F.round(F.avg("value"), 6) + 0.0).alias("v")))
    span = (obs.groupBy("user_id")
               .agg(F.min("h").alias("h0"), F.max("h").alias("h1")))
    grid = span.select(
        "user_id",
        F.explode(F.sequence(
            F.col("h0"), F.col("h1"),
            F.expr("INTERVAL 1 HOUR"))).alias("h"))
    j = grid.join(obs, ["user_id", "h"], "left")
    w_all = Window.partitionBy("user_id").orderBy("h")
    w_prev = w_all.rowsBetween(Window.unboundedPreceding, 0)
    w_next = w_all.rowsBetween(0, Window.unboundedFollowing)
    pv = F.last("v", ignorenulls=True).over(w_prev)
    ph = F.last(F.when(F.col("v").isNotNull(), F.col("h")),
                ignorenulls=True).over(w_prev)
    nv = F.first("v", ignorenulls=True).over(w_next)
    nh = F.first(F.when(F.col("v").isNotNull(), F.col("h")),
                 ignorenulls=True).over(w_next)
    # GRID-EXACT interpolation (the PageRank discipline): observed
    # values are exact 6-decimal numbers, so lift them to integer
    # microunits and do the lerp + half-up rounding entirely in
    # integers — ROUND(double, 6) ties at the 7th digit (which lerp
    # fractions like 1/2 produce constantly) round differently across
    # engines, and this formulation has no ties to disagree on.
    pvu = F.round(pv * 1e6).cast("long")
    d = F.round(nv * 1e6).cast("long") - pvu
    k = F.unix_timestamp(F.col("h")) - F.unix_timestamp(ph)
    gap = F.unix_timestamp(nh) - F.unix_timestamp(ph)
    adj = F.floor((2 * d * k + gap) / (2 * gap)).cast("long")
    interp = F.when(F.col("v").isNotNull(), F.col("v")) \
              .otherwise((pvu + adj) / F.lit(1000000.0))
    return (j.select("user_id", F.col("h").cast("string").alias("hour"),
                     interp.alias("value"),
                     F.col("v").isNull().alias("interpolated")))


Q187_SQL = """
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         ROUND(AVG(value), 6) + 0.0 AS v
  FROM events WHERE user_id < 50
  GROUP BY 1, 2
), span AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM span
), j AS (
  SELECT g.user_id, g.h, o.v
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
), n AS (
  SELECT user_id, h, v,
         LAST_VALUE(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         FIRST_VALUE(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM j
)
SELECT user_id, CAST(h AS VARCHAR) AS hour,
       CASE WHEN v IS NOT NULL THEN v
            ELSE (CAST(ROUND(pv * 1e6) AS BIGINT)
                  + CAST(FLOOR((2 * (CAST(ROUND(nv * 1e6) AS BIGINT)
                                     - CAST(ROUND(pv * 1e6) AS BIGINT))
                                  * CAST(epoch(h) - epoch(ph) AS BIGINT)
                                + CAST(epoch(nh) - epoch(ph) AS BIGINT))
                               / (2 * CAST(epoch(nh) - epoch(ph) AS BIGINT)))
                         AS BIGINT))
                 / 1000000.0 END AS value,
       v IS NULL AS interpolated
FROM n
"""


# --------------------------------------------------------------------------
# Q188 — per-source corpus health scorecard: for every ingest source,
# the numbers a data-vendor QA review reads — doc/token volume, mean
# quality (q14's formula), English share (langid heuristic), and
# exact-duplicate rate (docs whose canonical digest has an earlier
# copy ANYWHERE in the corpus — cross-source dup attribution, which
# is why the digest aggregate runs corpus-wide before the per-source
# rollup). One scan + one digest shuffle + one source rollup.
# --------------------------------------------------------------------------

def q188_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import fingerprint_md5, langid_en_heuristic

    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    base = docs.select(
        "doc_id", "source",
        tokens(t).alias("_tok"),
        tokens(F.lower(t)).alias("_ltok"),
        (langid_en_heuristic(t) == "en").alias("is_en"),
        fingerprint_md5(t).alias("dig"))
    nt = F.size("_tok")
    uniq = F.when(nt == 0, F.lit(0.0)) \
            .otherwise(F.size(F.array_distinct("_tok")) / nt)
    n_stop = F.size(F.filter("_ltok", lambda x: x.isin(*EN_STOPWORDS)))
    stop = F.when(F.size("_ltok") == 0, F.lit(0.0)) \
            .otherwise(n_stop / F.size("_ltok"))
    quality = (0.5 * uniq + 0.2 * (1.0 - stop)
               + 0.3 * F.when((nt >= 10) & (nt <= 10000), 1.0)
                        .otherwise(0.0))
    feat = base.select("doc_id", "source", "dig", "is_en",
                       nt.cast("long").alias("n_tok"),
                       F.round(quality, 9).alias("q"))
    canon = feat.groupBy("dig").agg(F.min("doc_id").alias("_mid"))
    f = (feat.join(canon, "dig")
             .withColumn("is_dup", F.col("doc_id") != F.col("_mid")))
    return (f.groupBy("source")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum("n_tok").cast("long").alias("n_tokens"),
                  (F.round(F.sum(F.col("q").cast("decimal(28,9)"))
                            .cast("double")
                           / F.count(F.lit(1)), 6) + 0.0)
                   .alias("mean_quality"),
                  (F.round(F.sum(F.when(F.col("is_en"), 1).otherwise(0))
                           / F.count(F.lit(1)), 6) + 0.0)
                   .alias("en_share"),
                  (F.round(F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
                           / F.count(F.lit(1)), 6) + 0.0)
                   .alias("dup_rate")))


Q188_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltok,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS dig
  FROM documents
), m AS (
  SELECT doc_id, source, dig,
         CAST(len(tok) AS BIGINT) AS n_tok,
         CASE WHEN len(tok) = 0 THEN 0.0
              ELSE len(list_distinct(tok)) / len(tok) END AS uniq_ratio,
         CASE WHEN len(ltok) = 0 THEN 0.0
              ELSE len(list_filter(ltok, x -> x IN ({_STOP_SQL})))
                   / len(ltok) END AS stop_ratio
  FROM t
), feat AS (
  SELECT doc_id, source, dig, n_tok,
         ROUND(0.5 * uniq_ratio + 0.2 * (1.0 - stop_ratio)
               + 0.3 * (CASE WHEN n_tok >= 10 AND n_tok <= 10000
                             THEN 1.0 ELSE 0.0 END), 9) AS q,
         stop_ratio >= 0.12 AS is_en
  FROM m
), canon AS (
  SELECT dig, MIN(doc_id) AS mid FROM feat GROUP BY dig
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       (ROUND(CAST(SUM(CAST(q AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
        + 0.0) AS mean_quality,
       (ROUND(SUM((is_en)::INT) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0)
         AS en_share,
       (ROUND(SUM((f.doc_id <> c.mid)::INT) / CAST(COUNT(*) AS DOUBLE), 6)
        + 0.0) AS dup_rate
FROM feat f JOIN canon c USING (dig)
GROUP BY source
"""


# --------------------------------------------------------------------------
# Q181 — model-based quality filter: FIT a logistic classifier on the
# corpus itself (features: type-token ratio + English-stopword ratio,
# label: lang='en'), then SCORE and flag every document — the
# fasttext-style "model-based quality/language filtering" step of a
# pretraining pipeline, composed entirely from declarative pieces:
# q14's feature projection, q175's two-IRLS-iteration fit (shared
# _logistic_irls2), one broadcast of the 1-row coefficient frame, one
# scoring scan. Train and serve are the same job with zero collects;
# at 100 TB the fit is two scans and the scoring one more.
# --------------------------------------------------------------------------

def q181_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    base = docs.select("doc_id", "lang",
                       tokens(t).alias("_tok"),
                       tokens(F.lower(t)).alias("_ltok"))
    nt = F.size("_tok")
    uniq = F.when(nt == 0, F.lit(0.0)) \
            .otherwise(F.size(F.array_distinct("_tok")) / nt)
    n_stop = F.size(F.filter("_ltok", lambda x: x.isin(*EN_STOPWORDS)))
    stop = F.when(F.size("_ltok") == 0, F.lit(0.0)) \
            .otherwise(n_stop / F.size("_ltok"))
    feats = base.select(
        "doc_id",
        F.round(uniq, 9).alias("x1"),
        F.round(stop, 9).alias("x2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"))
    beta = _logistic_irls2(feats.select("x1", "x2", "y")) \
        .select("b0", "b1", "b2")
    u = F.round(F.col("b0") + F.col("b1") * F.col("x1")
                + F.col("b2") * F.col("x2"), 12)
    score = F.round(1.0 / (1.0 + F.exp(-u)), 6) + F.lit(0.0)
    return (feats.crossJoin(F.broadcast(beta))
                 .select("doc_id", score.alias("score"))
                 .withColumn("keep", F.col("score") >= 0.5))


Q181_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tok,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltok
  FROM documents
), feats AS (
  SELECT doc_id,
         ROUND(CASE WHEN len(tok) = 0 THEN 0.0
                    ELSE len(list_distinct(tok)) / len(tok) END, 9) AS x1,
         ROUND(CASE WHEN len(ltok) = 0 THEN 0.0
                    ELSE len(list_filter(ltok, x -> x IN ({_STOP_SQL})))
                         / len(ltok) END, 9) AS x2,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM toks
), d AS (
  SELECT x1, x2, y FROM feats
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(ROUND(x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(ROUND(x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(ROUND(x1 * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s11,
         CAST(SUM(CAST(ROUND(x1 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(ROUND(x2 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(ROUND(y, 10) AS DECIMAL(38,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x1 * y, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(ROUND(x2 * y, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s2y
  FROM d
), b1c AS (
  SELECT
    (ROUND(((4.0 * (sy - 0.5 * n)) * (s11 * s22 - s12 * s12)
      - s1 * ((4.0 * (s1y - 0.5 * s1)) * s22 - s12 * (4.0 * (s2y - 0.5 * s2)))
      + s2 * ((4.0 * (s1y - 0.5 * s1)) * s12 - s11 * (4.0 * (s2y - 0.5 * s2))))
      / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)), 12) + 0.0) AS c0,
    (ROUND((n * ((4.0 * (s1y - 0.5 * s1)) * s22 - s12 * (4.0 * (s2y - 0.5 * s2)))
      - (4.0 * (sy - 0.5 * n)) * (s1 * s22 - s12 * s2)
      + s2 * (s1 * (4.0 * (s2y - 0.5 * s2)) - (4.0 * (s1y - 0.5 * s1)) * s2))
      / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)), 12) + 0.0) AS c1,
    (ROUND((n * (s11 * (4.0 * (s2y - 0.5 * s2)) - (4.0 * (s1y - 0.5 * s1)) * s12)
      - s1 * (s1 * (4.0 * (s2y - 0.5 * s2)) - (4.0 * (s1y - 0.5 * s1)) * s2)
      + (4.0 * (sy - 0.5 * n)) * (s1 * s12 - s11 * s2))
      / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)), 12) + 0.0) AS c2
  FROM s
), it2 AS (
  SELECT x1, x2, y, u, p,
         ROUND(p * (1.0 - p), 12) AS wt,
         ROUND(ROUND(p * (1.0 - p), 12) * u + (y - p), 12) AS g
  FROM (SELECT d.*, u, ROUND(1.0 / (1.0 + exp(-u)), 9) AS p
        FROM (SELECT d.*, ROUND(c0 + c1 * x1 + c2 * x2, 12) AS u
              FROM d CROSS JOIN b1c) d)
), s2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(wt, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m11,
         CAST(SUM(CAST(ROUND(wt * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m12,
         CAST(SUM(CAST(ROUND(wt * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m13,
         CAST(SUM(CAST(ROUND(wt * x1 * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m22,
         CAST(SUM(CAST(ROUND(wt * x1 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m23,
         CAST(SUM(CAST(ROUND(wt * x2 * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS m33,
         CAST(SUM(CAST(ROUND(g, 10) AS DECIMAL(38,10))) AS DOUBLE) AS t0,
         CAST(SUM(CAST(ROUND(g * x1, 10) AS DECIMAL(38,10))) AS DOUBLE) AS t1,
         CAST(SUM(CAST(ROUND(g * x2, 10) AS DECIMAL(38,10))) AS DOUBLE) AS t2
  FROM it2
), betas AS (
  SELECT
    (ROUND((t0 * (m22 * m33 - m23 * m23) - m12 * (t1 * m33 - m23 * t2)
      + m13 * (t1 * m23 - m22 * t2))
      / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
         + m13 * (m12 * m23 - m22 * m13)), 6) + 0.0) AS b0,
    (ROUND((m11 * (t1 * m33 - m23 * t2) - t0 * (m12 * m33 - m23 * m13)
      + m13 * (m12 * t2 - t1 * m13))
      / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
         + m13 * (m12 * m23 - m22 * m13)), 6) + 0.0) AS b1,
    (ROUND((m11 * (m22 * t2 - t1 * m23) - m12 * (m12 * t2 - t1 * m13)
      + t0 * (m12 * m23 - m22 * m13))
      / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
         + m13 * (m12 * m23 - m22 * m13)), 6) + 0.0) AS b2
  FROM s2 WHERE n_rows > 0
), scored AS (
  SELECT f.doc_id,
         (ROUND(1.0 / (1.0 + exp(-ROUND(b0 + b1 * f.x1 + b2 * f.x2, 12))),
                6) + 0.0) AS score
  FROM feats f CROSS JOIN betas
)
SELECT doc_id, score, score >= 0.5 AS keep
FROM scored
"""


# --------------------------------------------------------------------------
# Q194 — Z-order (Morton) layout statistics + file-skipping audit.
# sources/writers.zorder_key is the write-path lever (pytest-covered in
# tests/test_bucketing.py); this query gates the interleave ARITHMETIC
# and the pruning claim end-to-end: bucket lineitem rows by the top
# bits of their Morton key (the quadtree cell — a deterministic
# function of the row, NO global sort) vs a single-dimension linear
# layout, compute per-bucket min/max envelopes on both dimensions, and
# flag which buckets a 2-D box predicate must scan. Z-order keeps BOTH
# envelopes tight (few buckets hit); the linear layout is tight on x
# only (every bucket hit through y). At 100 TB the buckets are parquet
# row-groups and the hit flags are exactly what min/max stats pruning
# skips. Oracle replays the bit interleave with explicit shift/mask
# arithmetic.
# --------------------------------------------------------------------------

_Z_BITS = 6  # 6 bits/dim -> 12-bit key; top 2 bits/dim -> 16 buckets
_Z_BOX = (8, 23, 40, 55)  # x_lo, x_hi, y_lo, y_hi scan predicate


def q194_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import zorder_key

    li = read_table(spark, sf_dir, "lineitem")
    side = 1 << _Z_BITS
    d = (li.select(F.pmod("l_partkey", F.lit(side)).cast("long").alias("x"),
                   F.pmod("l_suppkey", F.lit(side)).cast("long").alias("y"))
           .withColumn("_zb", F.shiftright(
               zorder_key(F.col("x"), F.col("y"), bits=_Z_BITS),
               2 * _Z_BITS - 4))
           .withColumn("_lb", F.shiftright(F.col("x"), _Z_BITS - 4)))

    def _stats(bcol: str, layout: str) -> DataFrame:
        return (d.groupBy(F.col(bcol).alias("bucket"))
                  .agg(F.count(F.lit(1)).alias("n_rows"),
                       F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                       F.min("y").alias("min_y"), F.max("y").alias("max_y"))
                  .withColumn("layout", F.lit(layout)))

    xlo, xhi, ylo, yhi = _Z_BOX
    hit = ~((F.col("max_x") < xlo) | (F.col("min_x") > xhi)
            | (F.col("max_y") < ylo) | (F.col("min_y") > yhi))
    return (_stats("_zb", "zorder").unionByName(_stats("_lb", "linear"))
            .select("layout", "bucket", "n_rows", "min_x", "max_x",
                    "min_y", "max_y", hit.alias("scan_hit")))


def _morton_sql(xc: str, yc: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({xc} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({yc} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


Q194_SQL = f"""
WITH d AS (
  SELECT l_partkey % {1 << _Z_BITS} AS x,
         l_suppkey % {1 << _Z_BITS} AS y
  FROM lineitem
), keyed AS (
  SELECT x, y,
         ({_morton_sql('x', 'y', _Z_BITS)}) >> {2 * _Z_BITS - 4} AS zb,
         x >> {_Z_BITS - 4} AS lb
  FROM d
), s AS (
  SELECT 'zorder' AS layout, zb AS bucket, COUNT(*) AS n_rows,
         MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y
  FROM keyed GROUP BY zb
  UNION ALL
  SELECT 'linear' AS layout, lb AS bucket, COUNT(*) AS n_rows,
         MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y
  FROM keyed GROUP BY lb
)
SELECT layout, bucket, CAST(n_rows AS BIGINT) AS n_rows,
       min_x, max_x, min_y, max_y,
       NOT (max_x < {_Z_BOX[0]} OR min_x > {_Z_BOX[1]}
            OR max_y < {_Z_BOX[2]} OR min_y > {_Z_BOX[3]}) AS scan_hit
FROM s
"""


# --------------------------------------------------------------------------
# Q195 — co-located bucketed fact×fact join (sources/bucketing.py).
# The reference re-repartitions both join sides on the key EVERY run
# (go-quality-elt.py:262-263 — a per-run shuffle of the whole fact);
# bucketBy moves that shuffle to write time, once: both facts are
# saved as catalog-managed bucketed tables hashed on the order key,
# so the join itself needs NO Exchange (and with sortBy, no Sort) —
# tests/test_plans_bucketed.py pins the Exchange-free physical plan.
# At 100 TB this converts the nightly fact×fact join from "shuffle
# two tables" into "zip matching buckets". Tables are keyed by
# (dataset, applicationId) so concurrent sessions and same-session
# scale runs (1x vs Nx dirs) never collide, and dropped at exit.
# --------------------------------------------------------------------------

def q195_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import hashlib

    from ..sources.bucketing import (read_bucketed, trust_bucket_sort,
                                     write_bucketed)

    dkey = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    app = spark.sparkContext.applicationId.replace("-", "_").lower()
    t_orders = f"sg_b195_orders_{dkey}_{app}"
    t_lines = f"sg_b195_lineitem_{dkey}_{app}"

    def _drop(table: str) -> None:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass  # session already stopped; managed dir dies with it

    if not spark.catalog.tableExists(t_orders):
        write_bucketed(
            read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority"),
            t_orders, ["o_orderkey"], 8, sort_keys=["o_orderkey"],
            single_file_buckets=True)
        atexit.register(_drop, t_orders)
    if not spark.catalog.tableExists(t_lines):
        write_bucketed(
            read_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount",
                    "l_returnflag"),
            t_lines, ["l_orderkey"], 8, sort_keys=["l_orderkey"],
            single_file_buckets=True)
        atexit.register(_drop, t_lines)

    # sort-free merge join: the tables above are single-file-bucketed
    # with sortBy, so opting the session into trusting bucket sort
    # order elides both Sort nodes (see trust_bucket_sort's docstring
    # for the session-global scope warning — planning happens at
    # action time, after this builder returns).
    trust_bucket_sort(spark)
    ob = read_bucketed(spark, t_orders)
    lb = read_bucketed(spark, t_lines)
    j = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
    return (j.groupBy("o_orderpriority", "l_returnflag")
             .agg(F.count(F.lit(1)).alias("n_lines"),
                  dsum(F.col("l_extendedprice")
                       * (1 - F.col("l_discount"))).alias("revenue")))


Q195_SQL = f"""
SELECT o_orderpriority, l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority, l_returnflag
"""


# --------------------------------------------------------------------------
# Q196 — connected components via alternating large-star/small-star
# contraction (operators/dedup.connected_components_star — Kiveris et
# al., "Connected Components in MapReduce and Beyond"): the
# distributed path connected_components takes above its small-graph
# cap, called directly here so the oracle certifies it at any graph
# size; it converges in O(log^2 n) rounds regardless of diameter.
# Same edge set as q18/q59 (blocked n-gram Jaccard); output is the
# per-component roster (size + exact char mass), singletons included —
# so the oracle's reachability labels must agree with star contraction
# label-for-label, certifying the algorithm, not just a survivor list.
# --------------------------------------------------------------------------

def q196_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components_star

    docs = read_table(spark, sf_dir, "documents")
    pairs = _q18_pairs(spark, sf_dir)
    comps = connected_components_star(pairs)
    lab = (docs.join(comps, docs.doc_id == comps.id, "left")
               .select(F.coalesce(comps.component, docs.doc_id)
                        .alias("component"),
                       "n_chars"))
    return (lab.groupBy("component")
               .agg(F.count(F.lit(1)).alias("n_members"),
                    F.sum("n_chars").alias("sum_chars")))


Q196_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes(0.2)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id
),
lab AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
rost AS (
  SELECT COALESCE(l.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM rost GROUP BY component
"""


# --------------------------------------------------------------------------
# Q197 — Unicode script profiling (operators/textstats.SCRIPT_RANGES):
# the mC4/CCNet routing step that decides which language-ID / quality
# model a document goes to. The corpus is ASCII, so (q156 pattern) a
# deterministic per-doc_id rewrite plants Cyrillic / CJK / Arabic text
# first; counts are literal-codepoint-range regex (identical semantics
# in Java regex and RE2 — \\p{{script=...}} classes drift between
# engines, literal ranges do not), dominance is a fixed CASE chain.
# Map-only, fully codegen'd, no UDF.
# --------------------------------------------------------------------------

def q197_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import (SCRIPT_RANGES, dominant_script,
                                       script_char_count)

    docs = read_table(spark, sf_dir, "documents")
    mod = F.pmod("doc_id", F.lit(3))
    t = (F.when(mod == 0, F.regexp_replace("text", "table|value|key",
                                           "таблица"))
          .when(mod == 1, F.regexp_replace("text", "query|scan|row",
                                           "查询"))
          .otherwise(F.regexp_replace("text", "data|join", "بيانات")))
    d = docs.select("doc_id", t.alias("_t"))
    counts = {name: script_char_count(F.col("_t"), rng)
              for name, rng in SCRIPT_RANGES}
    return d.select(
        "doc_id",
        counts["latin"].alias("n_latin"),
        counts["cyrillic"].alias("n_cyrillic"),
        counts["cjk"].alias("n_cjk"),
        counts["arabic"].alias("n_arabic"),
        dominant_script(counts).alias("dominant"))


Q197_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN regexp_replace(text, 'table|value|key',
                                      'таблица', 'g')
           WHEN 1 THEN regexp_replace(text, 'query|scan|row', '查询', 'g')
           ELSE regexp_replace(text, 'data|join', 'بيانات', 'g')
         END AS t
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS n_latin,
         CAST(length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g'))
              AS BIGINT) AS n_cyrillic,
         CAST(length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g'))
              AS BIGINT) AS n_cjk,
         CAST(length(t) - length(regexp_replace(t, '[؀-ۿ]', '', 'g'))
              AS BIGINT) AS n_arabic
  FROM d
)
SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic,
       CASE
         WHEN n_latin + n_cyrillic + n_cjk + n_arabic = 0 THEN 'latin'
         WHEN n_cyrillic >= GREATEST(n_latin, n_cjk, n_arabic)
           THEN 'cyrillic'
         WHEN n_cjk >= GREATEST(n_latin, n_arabic) THEN 'cjk'
         WHEN n_arabic >= n_latin THEN 'arabic'
         ELSE 'latin'
       END AS dominant
FROM c
"""


SPECS = [
    QuerySpec("q13_dedup_exact", q13_dedup_exact, Q13_SQL, "exact hash dedup"),
    QuerySpec("q14_text_stats", q14_text_stats, Q14_SQL,
              "token counting + quality scoring"),
    QuerySpec("q15_lang_id", q15_lang_id, Q15_SQL, "language-ID heuristic"),
    QuerySpec("q17_minhash_neardup", q41_minhash_portable, Q41_SQL,
              "MinHash+LSH near-dup; q41's plan and oracle"),
    QuerySpec("q18_ngram_jaccard", q18_ngram_jaccard, Q18_SQL,
              "blocked exact n-gram Jaccard near-dup"),
    QuerySpec("q19_knn_cosine", q19_knn_cosine, Q19_SQL,
              "brute-force cosine top-k"),
    QuerySpec("q20_lsh_ann", q20_lsh_ann, Q20_SQL,
              "LSH approximate NN (deterministic seeded hyperplanes "
              "embedded in the oracle → bucket set + top-k checked)"),
    QuerySpec("q21_simhash", q40_simhash_portable, Q40_SQL,
              "SimHash fingerprints; q40's plan and oracle"),
    QuerySpec("q22_multimodal_meta", q22_multimodal_meta, Q22_SQL,
              "binary payload + mapInPandas feature plumbing"),
    QuerySpec("q115_media_probe", q115_media_probe, Q115_SQL,
              "REAL BMP/WAV decode: pure-Python header/palette/PCM "
              "parsers; every decoded value oracle-rederived from the "
              "synthesis arithmetic"),
    QuerySpec("q132_png_probe", q132_png_probe, Q132_SQL,
              "REAL PNG decode (stdlib zlib inflate + all five "
              "scanline filters, CRC-checked); decoded dims/channels/"
              "mean oracle-rederived analytically"),
    QuerySpec("q145_copurchase_pagerank", q145_copurchase_pagerank,
              Q145_SQL,
              "weighted PageRank power iteration over the co-purchase "
              "graph: per-contribution round + exact-decimal sums make "
              "the float recursion order-independent; all 3 iterations "
              "oracle-replayed"
              "; build collects the rank vector every iteration",
              runs_at_build="jobs"),
    QuerySpec("q144_shard_writer", q144_shard_writer, Q144_SQL,
              "training shards materialized: pack + partitioned "
              "sorted parquet write + read-back, per-shard "
              "order-independent digest vs a source-only oracle"
              "; build writes the shards", runs_at_build="jobs"),
    QuerySpec("q143_compressed_text", q143_compressed_text, Q143_SQL,
              "per-row compressed text BLOBs (zlib/gzip/bz2/lzma "
              "pandas UDFs): decompressed length + md5 hash-match the "
              "source column, all four codecs"),
    QuerySpec("q142_gif_probe", q142_gif_probe, Q142_SQL,
              "real GIF/LZW decode (variable-width dictionary codes, "
              "interlace) against an analytic oracle — the third real "
              "compressed codec after DEFLATE and DCT"),
    QuerySpec("q137_jpeg_probe", q137_jpeg_probe, Q137_SQL,
              "real baseline JPEG decode (Huffman + IDCT + YCbCr, "
              "numpy/struct only) certified against an analytic "
              "oracle via the DC-exactness contract"),
    QuerySpec("q193_jpeg_subsampled", q193_jpeg_subsampled, Q193_SQL,
              "chroma-subsampled (4:2:0 / 4:2:2) JPEG decode — MCU "
              "interleave, per-component DC predictors, replication "
              "upsample — certified via the macroblock-exactness "
              "contract"),
    QuerySpec("q133_bpe_encode", q133_bpe_encode, Q133_SQL,
              "BPE fit+encode end-to-end: oracle replays the merge-"
              "rule argmax rounds AND the left-to-right fold; the "
              "per-doc token stream is hash-gated"
              "; build runs the BPE fit driver loop", runs_at_build="jobs"),
    QuerySpec("q134_json_roundtrip", q134_json_roundtrip, _Q134_AGG,
              "JSON-lines source certified: lineitem staged through "
              "JSON and re-aggregated; hash-equality vs the parquet "
              "oracle proves the roundtrip value-exact"
              "; build writes the staged JSON copy", runs_at_build="jobs"),
    QuerySpec("q135_orc_roundtrip", q135_orc_roundtrip, _Q135_AGG,
              "ORC source certified: same staging discipline, "
              "monthly revenue rollup hash-matched vs parquet"
              "; build writes the staged ORC copy", runs_at_build="jobs"),
    QuerySpec("q146_html_extract", q146_html_extract, Q146_SQL,
              "HTML boilerplate strip: script/style/comment content "
              "dropped, tags stripped, whitespace collapsed — pure "
              "JVM regex chain, full clean string md5-gated"),
    QuerySpec("q147_domain_cap", q147_domain_cap, Q147_SQL,
              "per-domain corpus rebalance: parse_url host + "
              "deterministic md5-ordered cap of 20 docs/domain with "
              "auditable per-domain totals"),
    QuerySpec("q148_gopher_rules", q148_gopher_rules, Q148_SQL,
              "Gopher-style quality rule mask: word-count / mean-word-"
              "length / stopword / uniq-ratio violations as bits, "
              "keep = mask==0"),
    QuerySpec("q149_component_split", q149_component_split, Q149_SQL,
              "leakage-safe split: near-dup components are the split "
              "unit so clusters never straddle train/test; oracle "
              "rewalks the graph recursively"
              "; build collects the pair edges into a union-find",
              runs_at_build="jobs"),
    QuerySpec("q150_variant_shred", q150_variant_shred, Q150_SQL,
              "Spark 4 VARIANT path certified: to_json → parse_json → "
              "variant_get (nested + array index) → agg hash-matches "
              "the base-table oracle"),
    QuerySpec("q151_xml_roundtrip", q151_xml_roundtrip, _Q151_AGG,
              "XML source certified: lineitem staged through the "
              "built-in XML reader/writer, re-aggregated, "
              "hash-matched vs parquet; build writes the staged XML copy",
              runs_at_build="jobs"),
    QuerySpec("q152_repeated_spans", q152_repeated_spans, Q152_SQL,
              "exact repeated-substring excision: corpus-wide "
              "repeated 5-gram spans merged per-doc (islands window) "
              "and cut out; rebuilt clean text string-gated"),
    QuerySpec("q172_keep_best", q172_keep_best, Q172_SQL,
              "keep-best-copy dedup: argmax-length survivor per "
              "near-dup component (the real curation policy), "
              "recursive-CTE oracle"
              "; build collects the pair edges into a union-find",
              runs_at_build="jobs"),
    QuerySpec("q170_prefix_join", q170_prefix_join, Q170_SQL,
              "COMPLETE exact Jaccard join via prefix filtering "
              "(AllPairs rule): guaranteed recall, df-ranked prefix "
              "index, candidate-bounded verify"),
    QuerySpec("q171_lsh_recall", q171_lsh_recall, Q171_SQL,
              "LSH quality certification: q41's pair set vs the "
              "complete prefix-join truth — precision/recall of the "
              "probabilistic index under the hash gate"),
    QuerySpec("q189_lsh_recall_sampled", q189_lsh_recall_sampled, Q189_SQL,
              "ANCHORED sampled LSH recall certification: fixed-size "
              "md5 anchor set, exact truth/LSH pairs probed from the "
              "anchors only (>=1 anchor endpoint, inclusion ~2f not "
              "f^2), per-similarity-band recall — q171's scale path "
              "(never materializes the full truth join)"),
    QuerySpec("q190_stream_chain", q190_stream_chain, Q190_SQL,
              "full ingest→transform→quality→metric chain as ONE "
              "foreachBatch streaming pipeline with commit-after-write "
              "batch bookmarks; metric over final/ oracle-gated vs "
              "the raw table", runs_at_build="stream"),
    QuerySpec("q191_image_dhash_dedup", q191_image_dhash_dedup, Q191_SQL,
              "perceptual dHash near-dup join over real BMP decode: "
              "brightness-invariant gradient hash, 4x14-bit Hamming "
              "band candidates, popcount verify — every bit "
              "oracle-replayed"),
    QuerySpec("q169_image_pool", q169_image_pool, Q169_SQL,
              "2x2 block pooling over real BMP decode: exact integer "
              "block sums, oracle rebuilds every pixel"),
    QuerySpec("q168_audio_stats", q168_audio_stats, Q168_SQL,
              "per-frame audio energy + zero-crossing (VAD shape) "
              "over real WAV encode/decode; exact int64 sums, "
              "oracle replays every sample"),
    QuerySpec("q166_kmv_distinct", q166_kmv_distinct, Q166_SQL,
              "KMV bottom-k distinct sketch: (k-1)/h_k estimate, "
              "hash-for-hash oracle replay incl. its exact error"),
    QuerySpec("q167_kmv_jaccard", q167_kmv_jaccard, Q167_SQL,
              "KMV set algebra: Jaccard of user sets from the merged "
              "bottom-k union sketch vs exact Jaccard"),
    QuerySpec("q165_stream_enrich", q165_stream_enrich, Q165_SQL,
              "stream-static dimension enrichment: fact stream "
              "broadcast-joined to customer x nation before a "
              "state-store rollup; converges to the batch oracle",
              runs_at_build="stream"),
    QuerySpec("q163_bm25", q163_bm25, Q163_SQL,
              "BM25 retrieval scoring (Lucene idf, k1/b length "
              "normalization), decimal-exact per-doc term sums, "
              "top-20 via TakeOrdered"),
    QuerySpec("q164_distinct_n", q164_distinct_n, Q164_SQL,
              "distinct-n diversity + n-gram entropy for n=1..3 "
              "(mode-collapse / template-spam check)"),
    QuerySpec("q162_tfidf_cosine", q162_tfidf_cosine, Q162_SQL,
              "sparse TF-IDF cosine near-dup: inverted-index join "
              "with frequency cut, decimal-exact dots/norms"),
    QuerySpec("q161_warc_roundtrip", q161_warc_roundtrip, Q161_SQL,
              "WARC/1.0 round-trip: JVM-side record assembly with "
              "Content-Length framing; content-length-driven parser "
              "survives payloads containing the WARC magic"),
    QuerySpec("q160_zipf_fit", q160_zipf_fit, Q160_SQL,
              "Zipf power-law fit: top-100 token log-log OLS slope "
              "from four decimal-exact sums (corpus-health stat)"),
    QuerySpec("q159_inverted_index", q159_inverted_index, Q159_SQL,
              "inverted-index build: token -> delta-encoded sorted "
              "posting list + df/tf, one token-keyed shuffle"),
    QuerySpec("q158_pmi_cooc", q158_pmi_cooc, Q158_SQL,
              "skip-gram PMI co-occurrence: array-side pair "
              "generation (no self-join), log-space PMI that never "
              "overflows, broadcast vocab joins"),
    QuerySpec("q156_unicode_nfc", q156_unicode_nfc, Q156_SQL,
              "Unicode NFC + accent folding (pandas-UDF normalizer "
              "vs DuckDB nfc_normalize): synthesized combining marks "
              "compose back, fold round-trips byte-exact"),
    QuerySpec("q157_triangles", q157_triangles, Q157_SQL,
              "degree-oriented triangle counting on the co-purchase "
              "graph: wedge join bounded by orientation, per-node "
              "exact integer counts"),
    QuerySpec("q155_ridge_fit", q155_ridge_fit, Q155_SQL,
              "distributed ridge regression: X^T X / X^T y as nine "
              "decimal-exact map-combinable sums, closed-form Cramer "
              "solve as expressions, broadcast-beta scoring pass"),
    QuerySpec("q154_rawfile_ingest", q154_rawfile_ingest, Q154_SQL,
              "raw one-file-per-doc corpus ingestion certified via "
              "binaryFile AND wholetext readers: partition-key doc "
              "ids, byte counts, and decoded-text md5 hash-gated"
              "; build stages one text file per doc", runs_at_build="jobs"),
    QuerySpec("q153_semdedup", q153_semdedup, Q153_SQL,
              "SemDeDup: k-means cells (served from the artifact) "
              "bound the within-cell cosine all-pairs; min-id "
              "dominance keep policy; oracle replays fit + cosines"
              "; build loads or fits the k-means artifact",
              runs_at_build="jobs"),
    QuerySpec("q24_fingerprint_dedup", q24_fingerprint_dedup, Q24_SQL,
              "normalized-text fingerprint dedup"),
    QuerySpec("q25_embedding_neardup", q25_embedding_neardup, Q25_SQL,
              "exact embedding-cosine near-dup via blocked GEMM "
              "(max_pairs-guarded: refuses silent n^2 at corpus scale)"
              "; build counts the corpus to size its GEMM blocks",
              runs_at_build="jobs"),
    QuerySpec("q192_neardup_anchored", q192_neardup_anchored, Q192_SQL,
              "anchored exact cosine certification: pairs with >=1 "
              "anchor endpoint via rectangular blocked GEMM — "
              "O(n_anchors*n*d), the scale path for exact ground truth"
              "; build counts the anchors", runs_at_build="jobs"),
    QuerySpec("q194_zorder_layout", q194_zorder_layout, Q194_SQL,
              "Z-order (Morton) layout vs linear: per-bucket min/max "
              "envelopes + 2-D box pruning audit, interleave "
              "arithmetic oracle-replayed bit-for-bit"),
    QuerySpec("q195_bucketed_join", q195_bucketed_join, Q195_SQL,
              "co-located bucketed fact×fact join: bucketBy tables "
              "joined with NO runtime Exchange (plan pinned by "
              "pytest), values gated against the plain-join oracle"
              "; build writes the bucketed tables", runs_at_build="jobs"),
    QuerySpec("q196_star_components", q196_star_components, Q196_SQL,
              "large-star/small-star connected components (O(log^2 n) "
              "rounds, diameter-independent) — per-component roster "
              "certified label-for-label vs reachability"
              "; build runs the star-contraction rounds",
              runs_at_build="jobs"),
    QuerySpec("q197_script_mix", q197_script_mix, Q197_SQL,
              "Unicode script profiling + dominant-script routing "
              "(literal codepoint ranges, engine-portable; map-only, "
              "no UDF)"),
    QuerySpec("q198_jpeg_progressive", q198_jpeg_progressive, Q198_SQL,
              "progressive (SOF2) JPEG decode — spectral selection + "
              "successive approximation, every scan type of libjpeg's "
              "default script — certified via the macroblock-"
              "exactness contract"),
    QuerySpec("q199_incremental_lsh", q199_incremental_lsh, Q199_SQL,
              "incremental LSH dedup at ingest: new batch probes the "
              "corpus band index, exact verify — per-batch cost, "
              "append ≡ rebuild index; candidate set oracle-replayed"
              "; build probes the index partitions", runs_at_build="jobs"),
    QuerySpec("q200_lsh_index_serve", q200_lsh_index_serve, Q199_SQL,
              "q199 served from the PERSISTED LshDedupIndex parquet "
              "artifact (fit/save/load round-trip) — same oracle "
              "hash-certifies the production serve path"
              "; build writes the LSH index", runs_at_build="jobs"),
    QuerySpec("q201_bucketed_upsert", q201_bucketed_upsert, Q201_SQL,
              "bucket-pruned CDC MERGE: upserts + delete tombstones "
              "applied per batch, rewriting only touched hash buckets; "
              "oracle replays the whole feed as one keep-latest window "
              "(batching-invariance is the correctness claim)"
              "; build merges the batches into the snapshot",
              runs_at_build="jobs"),
    QuerySpec("q202_index_delete", q202_index_delete, Q202_SQL,
              "ANN index delete-maintenance: tombstone side-table "
              "append + anti-join at serve; oracle replays ADC on the "
              "surviving corpus — delete ≡ rebuild certified"
              "; build writes the index and its tombstones",
              runs_at_build="jobs"),
    QuerySpec("q203_lsh_index_delete", q203_lsh_index_delete, Q203_SQL,
              "LSH dedup index delete-maintenance: tombstone append + "
              "broadcast anti-join on candidates at serve; oracle "
              "replays q199 on the surviving corpus — delete ≡ refit "
              "certified; build writes the index and its tombstones",
              runs_at_build="jobs"),
    QuerySpec("q204_lsh_pruned_serve", q204_lsh_pruned_serve, Q199_SQL,
              "partitioned-entries LSH index serve: probe join reads "
              "only the batch's band-hash partitions (PartitionFilters) "
              "— the O(corpus)-scan-free serve layout; q199's oracle "
              "hash-certifies it; build writes the LSH index",
              runs_at_build="jobs"),
    QuerySpec("q28_asof_attribution", q28_asof_attribution, Q28_SQL,
              "as-of join: last-click attribution (union+window plan)"),
    QuerySpec("q30_frame_sample", q30_frame_sample, Q30_SQL,
              "multimodal frame-sampling fan-out (mapInPandas one-to-many)"),
    QuerySpec("q31_ivf_ann", q31_ivf_ann, Q31_SQL,
              "IVF coarse-quantizer ANN (portable centroid sampling → "
              "cells, probes, and top-k all oracle-checked)"
              "; build loads or fits the IVF centroid artifact",
              runs_at_build="jobs"),
    QuerySpec("q38_rolling_fingerprint", q38_rolling_fingerprint, Q38_SQL,
              "order- and case-sensitive token-sequence fingerprint dedup"),
    QuerySpec("q39_range_clicks", q39_range_clicks, Q39_SQL,
              "banded range join: clicks in the hour before each purchase"),
    QuerySpec("q40_simhash_portable", q40_simhash_portable, Q40_SQL,
              "SimHash with engine-portable md5-derived 60-bit hash"),
    QuerySpec("q41_minhash_portable", q41_minhash_portable, Q41_SQL,
              "MinHash+LSH with engine-portable hashes (candidate set "
              "and verified pairs oracle-checked)"),
    QuerySpec("q42_vocab", q42_vocab, Q42_SQL,
              "corpus vocabulary: token frequency top-100 "
              "(explode → agg → TakeOrdered)"),
    QuerySpec("q48_stream_attribution", q48_stream_attribution, Q39_SQL,
              "watermarked stream-stream interval join (streaming twin "
              "of q39, same oracle)", runs_at_build="stream"),
    QuerySpec("q56_neardup_groups", q56_neardup_groups, Q56_SQL,
              "near-dup components over the Jaccard pair graph "
              "(union-find / star contraction; recursive-CTE oracle)"
              "; build collects the pair edges into a union-find",
              runs_at_build="jobs"),
    QuerySpec("q57_portable_split", q57_portable_split, Q57_SQL,
              "deterministic hash-based train/test split (md5 bucket, "
              "stable under corpus growth)"),
    QuerySpec("q58_contamination", q58_contamination, Q58_SQL,
              "benchmark decontamination: cross-corpus shingle "
              "containment (inverted-index join)"),
    QuerySpec("q59_dedupe_corpus", q59_dedupe_corpus, Q59_SQL,
              "end-to-end corpus dedupe: pairs → components → "
              "canonical survivors (broadcast anti-join)"
              "; build collects the pair edges into a union-find",
              runs_at_build="jobs"),
    QuerySpec("q60_token_shards", q60_token_shards, Q60_SQL,
              "token-budget training shards via distributed prefix sum"
              "; build collects per-partition token offsets",
              runs_at_build="jobs"),
    QuerySpec("q61_chunk_docs", q61_chunk_docs, Q61_SQL,
              "overlapping token-window chunking (map-only posexplode)"),
    QuerySpec("q62_mixture_sample", q62_mixture_sample, Q62_SQL,
              "deterministic corpus-mixture rebalancing (per-stratum "
              "hash rates, every decision oracle-recomputed)"),
    QuerySpec("q63_repetition", q63_repetition, Q63_SQL,
              "Gopher-style repetition signals (top token/bigram "
              "fraction, dup-token fraction); linear explode+agg "
              "shape (the default)"),
    QuerySpec("q131_hll_portable", q131_hll_portable, Q131_SQL,
              "portable HLL cardinality: registers AND estimate "
              "oracle-replayed bit-for-bit, exact count alongside"),
    QuerySpec("q136_stream_hll", q136_stream_hll, Q136_SQL,
              "HLL registers maintained BY the streaming state store "
              "(groupBy max = incremental sketch IVM); drained "
              "registers estimate hash-equal to the batch oracle",
              runs_at_build="stream"),
    QuerySpec("q141_index_append", q141_index_append, Q141_SQL,
              "incremental ANN index: append-only PQ-code encoding of "
              "new vectors must serve identically to a full rebuild "
              "(q77's oracle reused verbatim); build writes the PQ index",
              runs_at_build="jobs"),
    QuerySpec("q140_sketch_overlap", q140_sketch_overlap, Q140_SQL,
              "HLL set algebra: train/test shingle overlap via "
              "register merge + inclusion-exclusion, exact counts "
              "alongside; every estimate replayed by DuckDB"
              "; build runs the checkpointed registers' shuffle stage",
              runs_at_build="jobs"),
    QuerySpec("q138_sequence_pack", q138_sequence_pack, Q138_SQL,
              "GPT-style concatenate-and-chunk packing coordinates: "
              "hash-shard + per-shard prefix-sum window, docs span "
              "ctx_len boundaries, zero padding waste"),
    QuerySpec("q139_greedy_pack", q139_greedy_pack, Q139_SQL,
              "whole-document greedy bin packing: per-shard "
              "applyInPandas scan (state resets on overflow) vs a "
              "recursive-CTE oracle replaying the same scan"),
    QuerySpec("q130_generated_rollup", q130_generated_rollup, Q130_SQL,
              "custom Python DataSource under the gate: DuckDB replays "
              "splitmix64 (split-mul mod 2^64) to certify the "
              "connector end-to-end"),
    QuerySpec("q128_countmin", q128_countmin, Q128_SQL,
              "count-min sketch point queries vs exact counts; every "
              "cell and estimate oracle-replayed"),
    QuerySpec("q127_bloom_prefilter", q127_bloom_prefilter, Q127_SQL,
              "portable Bloom filter fit+apply; confusion matrix vs "
              "exact membership, every bit oracle-replayed"),
    QuerySpec("q126_passage_dedupe", q126_passage_dedupe, Q126_SQL,
              "C4-style corpus-wide passage dedup + reconstruction; "
              "the rebuilt text itself is hash-gated"),
    QuerySpec("q118_linear_attribution", q118_linear_attribution, Q118_SQL,
              "linear multi-touch attribution over the banded range "
              "join; fixed-point ppm credit for exact determinism"),
    QuerySpec("q119_budget_curation", q119_budget_curation, Q119_SQL,
              "per-source greedy budget curation (quality-first fill)"),
    QuerySpec("q116_repetition_linear", q116_repetition_linear, Q63_SQL,
              "equivalence twin of q63 (this entry carries the "
              "per-row HOF short-doc fast path); same oracle — the "
              "gate certifies output identity"),
    QuerySpec("q64_embed_quantize", q64_embed_quantize, Q64_SQL,
              "int8 embedding quantization (symmetric scale, half-up "
              "codes, reconstruction MSE; every code value gate-checked)"),
    QuerySpec("q66_tfidf", q66_tfidf, Q66_SQL,
              "top-5 TF-IDF terms per document (window df, broadcast "
              "N, rank-before-round discipline)"),
    QuerySpec("q67_kmeans", q67_kmeans, Q67_SQL,
              "Lloyd k-means: md5-seeded init + grid-exact centroid "
              "update; cells and distances oracle-reproduced"
              "; build loads or fits the k-means centroid artifact",
              runs_at_build="jobs"),
    QuerySpec("q70_weighted_sample", q70_weighted_sample, Q70_SQL,
              "Efraimidis-Spirakis weighted sample (hash-derived "
              "uniforms; every inclusion oracle-re-derived)"),
    QuerySpec("q110_stream_attribution_outer", q110_stream_attribution_outer,
              Q110_SQL,
              "LEFT-OUTER stream-stream interval join: watermark-"
              "gated null emission for unmatched purchases (emission "
              "rule oracle-pinned)", runs_at_build="stream"),
    QuerySpec("q107_next_click", q107_next_click, Q107_SQL,
              "forward as-of join: first click at-or-after each "
              "purchase (next-action latency; union+window plan)"),
    QuerySpec("q103_corpus_pipeline", q103_corpus_pipeline, Q103_SQL,
              "end-to-end corpus curation: lang filter -> quality "
              "filter -> exact dedup -> near-dup dedup -> PII scrub -> "
              "token shards, ONE declarative plan; every stage "
              "oracle-replayed"
              "; build collects the pair edges into a union-find",
              runs_at_build="jobs"),
    QuerySpec("q100_incremental_dedupe", q100_incremental_dedupe, Q100_SQL,
              "incremental corpus dedupe: new batch vs accumulated "
              "survivors, probe-side-only inverted index (no corpus x "
              "corpus recompute); two-phase recursive-CTE oracle"
              "; build collects the pair edges into a union-find",
              runs_at_build="jobs"),
    QuerySpec("q71_name_editdist", q71_name_editdist, Q71_SQL,
              "exact edit-distance near-dup pairs (q-gram inverted "
              "index + length band, thresholded levenshtein verify)"),
    QuerySpec("q75_hashing_vectors", q75_hashing_vectors, Q75_SQL,
              "feature-hashing text vectorizer (signed counts, "
              "portable bucket/sign hash, map-only; every component "
              "gate-checked)"),
    QuerySpec("q76_product_quantize", q76_product_quantize, Q76_SQL,
              "product quantization: per-subspace kmeans codebooks "
              "(4x16), every code and distortion oracle-reproduced"
              "; build fits the PQ codebooks in a k-means driver loop",
              runs_at_build="jobs"),
    QuerySpec("q77_pq_adc", q77_pq_adc, Q77_SQL,
              "PQ asymmetric-distance top-k search (per-query lookup "
              "tables over 2-byte codes; oracle replays the tables)"
              "; build loads or fits the PQ codebook artifact",
              runs_at_build="jobs"),
    QuerySpec("q78_perplexity", q78_perplexity, Q78_SQL,
              "in-corpus bigram-LM perplexity (CCNet-style quality "
              "filter; decimal-exact log-space sums)"),
    QuerySpec("q80_split_drift", q80_split_drift, Q80_SQL,
              "train/test drift audit: per-token smoothed KL "
              "contributions over the hash split"),
    QuerySpec("q81_ivf_pq", q81_ivf_pq, Q81_SQL,
              "IVFADC: IVF cell pruning + PQ-ADC scoring (cells, "
              "probes, codes, tables all oracle-reproduced)"
              "; build loads or fits the PQ codebook artifact",
              runs_at_build="jobs"),
    QuerySpec("q82_rerank", q82_rerank, Q82_SQL,
              "retrieve-then-rerank: IVFADC shortlist + exact cosine "
              "rerank (both stages oracle-replayed)"
              "; build loads or fits the PQ codebook artifact",
              runs_at_build="jobs"),
    QuerySpec("q173_crossdoc_dedup", q173_crossdoc_dedup, Q173_SQL,
              "corpus-wide exact substring dedup with a SURVIVOR: "
              "repeated 5-gram spans keep their first (doc,pos) "
              "occurrence, excised everywhere else (Lee et al. "
              "keep-one policy; q152 is the excise-all sibling)"),
    QuerySpec("q174_pii_redact", q174_pii_redact, Q174_SQL,
              "PII detection + masking (email/IPv4/phone) via JVM "
              "regex chains; counts and redacted text both "
              "gate-certified byte-for-byte"),
    QuerySpec("q175_logistic_fit", q175_logistic_fit, Q175_SQL,
              "logistic regression, two declarative IRLS iterations "
              "(closed-form 3x3 solves, decimal-exact sums, zero "
              "collects — iteration count bounds plan depth)"),
    QuerySpec("q176_embed_standardize", q176_embed_standardize, Q176_SQL,
              "per-dimension embedding z-score: one-pass decimal "
              "moments, broadcast serve join"),
    QuerySpec("q177_winnowing", q177_winnowing, Q177_SQL,
              "winnowing fingerprint overlap (MOSS): rightmost-min-"
              "per-window gram selection, df-capped pair join — "
              "guaranteed detection of shared runs >= w+k-1 tokens"),
    QuerySpec("q178_dsir_weights", q178_dsir_weights, Q178_SQL,
              "DSIR importance weights: hashed-unigram bucket "
              "distributions target-vs-raw, per-doc log-ratio scores "
              "(broadcast 512-row stats join)"),
    QuerySpec("q179_js_drift", q179_js_drift, Q179_SQL,
              "Jensen-Shannon divergence between corpus slices' "
              "unigram distributions (domain-mixture drift monitor)"),
    QuerySpec("q180_quantile_sketch", q180_quantile_sketch, Q180_SQL,
              "mergeable decimal-digit histogram quantiles (p50/p95/"
              "p99) — deterministic, engine-replayable t-digest "
              "stand-in with bounded per-group state"),
    QuerySpec("q181_quality_filter", q181_quality_filter, Q181_SQL,
              "model-based quality filter: logistic fit on corpus "
              "features (TTR + stopword ratio vs lang label), then "
              "score+flag every doc — fit and serve in one "
              "declarative job"),
    QuerySpec("q182_stream_quantiles", q182_stream_quantiles, Q182_SQL,
              "STREAMING decimal-histogram quantile sketch: bucket "
              "counts as a bounded-state streaming aggregation "
              "(AvailableNow drain), quantiles extracted from the "
              "final histogram; batch SQL replays it exactly",
              runs_at_build="stream"),
    QuerySpec("q183_stream_decontaminate", q183_stream_decontaminate,
              Q58_SQL,
              "STREAMING benchmark decontamination: corpus stream "
              "shingle-joined to the broadcast static benchmark "
              "index, shared counts through the state store — the "
              "q58 batch oracle certifies the live-ingest path",
              runs_at_build="stream"),
    QuerySpec("q184_hard_negatives", q184_hard_negatives, Q184_SQL,
              "hard-negative mining: top-k most-similar NON-duplicate "
              "candidates per query (dup band excluded before the "
              "top-k) — the contrastive-training data op"),
    QuerySpec("q185_curation_funnel", q185_curation_funnel, Q185_SQL,
              "end-to-end curation funnel (langid -> Gopher rules -> "
              "exact dedup) with per-stage doc/token survival — "
              "certifies the COMPOSITION of independently-gated "
              "stages; one scan + one dedup shuffle"),
    QuerySpec("q186_vocab_coverage", q186_vocab_coverage, Q186_SQL,
              "vocabulary coverage curve: token-frequency rank vs "
              "cumulative occurrence coverage at each vocab-size "
              "decile (the tokenizer-sizing statistic); windows run "
              "over the vocab-bounded aggregate"),
    QuerySpec("q187_interpolate", q187_interpolate, Q187_SQL,
              "hourly gap-fill with linear interpolation (the "
              "resample op; q91's LOCF sibling): per-user grid "
              "explode + prev/next IGNORE-NULLS windows, no "
              "self-joins"),
    QuerySpec("q188_source_scorecard", q188_source_scorecard, Q188_SQL,
              "per-source corpus health scorecard: volume, mean "
              "quality, English share, cross-source exact-dup rate — "
              "one scan + one digest shuffle + one source rollup"),
]
