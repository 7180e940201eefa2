"""Web-text curation operators: HTML boilerplate stripping, URL/domain
extraction with per-domain caps, and Gopher-style composite quality
rules.

These are the front half of a Common-Crawl-shaped training-data
pipeline (reference analog: none — the reference is tabular-only; this
family belongs to the 100 TB extension brief): raw markup arrives, text
is extracted, the corpus is rebalanced per source domain, and documents
failing heuristic quality rules are dropped with an auditable reason
mask.

Every transformation here is a chain of built-in string/regex/window
expressions — whole-stage-codegen JVM work with no Python in the hot
path — and every regex is written in the common Java-regex/RE2 subset
so a DuckDB oracle can replay it verbatim ('(?s)' dotall, non-greedy
'.*?', character classes only; no backreferences or lookaround).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Kept deliberately tiny and embedded in both engines' expressions so
# the stopword test is portable (mirrors textstats.EN_STOPWORDS's
# discipline without importing a list the SQL twin can't see).
GOPHER_STOPWORDS = ("the", "a", "of", "to", "and")

# gopher_flags thresholds: word-count bounds, mean-word-length bounds,
# minimum stopword hits, minimum unique-token ratio
GOPHER_WORDS = (15, 100_000)
GOPHER_MEAN_WORD_LEN = (2.0, 10.0)
GOPHER_MIN_STOP_HITS = 1
GOPHER_MIN_UNIQ_RATIO = 0.2


# --------------------------------------------------------------------------
# HTML boilerplate strip
# --------------------------------------------------------------------------

# Ordered (pattern, replacement) chain. Order matters: block elements
# whose CONTENT must go (script/style) are removed before the generic
# tag strip, which only removes the markup and keeps inner text.
_HTML_STRIP_CHAIN: tuple[tuple[str, str], ...] = (
    (r"(?s)<script[^>]*>.*?</script>", " "),  # code blocks: drop content
    (r"(?s)<style[^>]*>.*?</style>", " "),    # css blocks: drop content
    (r"(?s)<!--.*?-->", " "),                 # comments
    (r"<[^>]+>", " "),                        # any remaining tag
    (r"\s+", " "),                            # collapse whitespace
)


def strip_html(col: Column) -> Column:
    """Markup → visible text: drop script/style/comment content, strip
    tags, collapse whitespace. Linear single-pass regex chain per row —
    no parsing state, so it map-partitions perfectly at any scale."""
    out = col
    for pat, repl in _HTML_STRIP_CHAIN:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


def html_extract(df: DataFrame, html_col: str, *,
                 out_col: str = "clean_text") -> DataFrame:
    """Attach extracted text plus the audit stats a curation pipeline
    keeps: raw length, text length, and text density (text/raw — the
    classic boilerplate signal; near-0 pages are nav/chrome)."""
    raw = F.col(html_col)
    clean = strip_html(raw)
    return (df.withColumn(out_col, clean)
              .withColumn("n_raw", F.length(raw))
              .withColumn("n_text", F.length(F.col(out_col)))
              .withColumn("text_density",
                          F.col("n_text").cast("double") / F.col("n_raw")))


# --------------------------------------------------------------------------
# Domain extraction + per-domain cap
# --------------------------------------------------------------------------

def domain_of(url: Column) -> Column:
    """Registered host of a URL (parse_url runs in the JVM; the oracle
    twin uses the equivalent anchored regex)."""
    return F.parse_url(url, F.lit("HOST"))


def cap_per_domain(df: DataFrame, domain_col: str, key_col: str, *,
                   k: int) -> DataFrame:
    """Keep at most ``k`` rows per domain, chosen by a deterministic
    hash order (md5 of ``<key>#7``) so the kept set is stable under
    re-runs, corpus growth, and any partitioning — the Common-Crawl
    rebalance step that stops one mega-domain from dominating a corpus.

    One shuffle on the domain; AQE's skew split handles heavy-hitter
    domains (the window only needs a per-domain top-k, and row_number
    over a sorted partition spills gracefully). Emits the per-domain
    total alongside the rank so the drop rate is auditable.

    ``key_col`` must be unique per row: the md5-order tiebreak is the
    raw key as a STRING (always non-null, any key type — a long cast
    is NULL for non-numeric keys), so distinct
    keys give a total, partitioning-independent order; duplicate keys
    would make the kept set nondeterministic.
    """
    order = F.md5(F.concat(F.col(key_col).cast("string"),
                           F.lit("#7")))
    w = Window.partitionBy(domain_col)
    ranked = (df.withColumn("n_domain_docs", F.count(F.lit(1)).over(w))
                .withColumn(
                    "rk",
                    F.row_number().over(
                        w.orderBy(order.asc(),
                                  F.col(key_col).cast("string").asc()))))
    return ranked.filter(F.col("rk") <= k)


# --------------------------------------------------------------------------
# Gopher-style composite quality rules
# --------------------------------------------------------------------------

def gopher_flags(df: DataFrame, text_col: str) -> DataFrame:
    """Rule-mask document filter in the style of Gopher's quality
    heuristics (word-count bounds, mean-word-length bounds, stopword
    presence, duplicate-token saturation; thresholds ``GOPHER_*``).
    Each rule contributes a bit to ``rule_mask`` (bit set = rule
    VIOLATED) so downstream can audit *why* a document was dropped,
    not just that it was; ``keep`` is mask == 0.

    Pure column expressions over one split() — no shuffle, no UDF;
    ratios are single IEEE divisions so the oracle replays them
    bit-exactly.
    """
    text = F.trim(F.col(text_col))
    toks = F.split(text, r"\s+")
    n_words = F.when(text == "", F.lit(0)).otherwise(F.size(toks))
    chars_no_ws = F.length(F.regexp_replace(text, r"\s+", ""))
    mean_wl = F.when(n_words > 0,
                     chars_no_ws.cast("double") / n_words).otherwise(F.lit(0.0))
    stop_hits = F.size(F.array_intersect(
        toks, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    uniq_ratio = F.when(
        n_words > 0,
        F.size(F.array_distinct(toks)).cast("double") / n_words
    ).otherwise(F.lit(0.0))

    min_words, max_words = GOPHER_WORDS
    min_wl, max_wl = GOPHER_MEAN_WORD_LEN
    viol_words = (n_words < min_words) | (n_words > max_words)
    viol_mean = (mean_wl < min_wl) | (mean_wl > max_wl)
    viol_stop = stop_hits < GOPHER_MIN_STOP_HITS
    viol_uniq = uniq_ratio < GOPHER_MIN_UNIQ_RATIO
    mask = (viol_words.cast("int") * 1 + viol_mean.cast("int") * 2
            + viol_stop.cast("int") * 4 + viol_uniq.cast("int") * 8)

    return (df.withColumn("n_words", n_words.cast("bigint"))
              .withColumn("mean_word_len", mean_wl)
              .withColumn("stop_hits", stop_hits.cast("bigint"))
              .withColumn("uniq_ratio", uniq_ratio)
              .withColumn("rule_mask", mask.cast("int"))
              .withColumn("keep", mask == 0))


# --------------------------------------------------------------------------
# WARC framing (the container format a web crawl actually ships in)
# --------------------------------------------------------------------------

def build_warc_records(df: DataFrame, id_col: str, payload_col: str, *,
                       bucket_col: str = "bucket") -> DataFrame:
    """Assemble per-bucket WARC/1.0 blobs from (id, payload) rows:
    each record is `WARC/1.0\\r\\n<headers>\\r\\n\\r\\n<payload>\\r\\n\\r\\n`
    with a correct Content-Length, records concatenated in id order.
    The whole assembly is JVM expressions (sorted collect per bucket +
    one concat fold) — the write side of a crawl-shard materializer.
    """
    rec = F.format_string(
        "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: "
        "<urn:doc:%s>\r\nContent-Length: %s\r\n\r\n%s\r\n\r\n",
        F.col("_id").cast("string"),
        F.octet_length("_p").cast("string"), F.col("_p"))
    per = df.select(F.col(bucket_col).alias("bucket"),
                    F.col(id_col).alias("_id"),
                    F.col(payload_col).alias("_p")) \
            .select("bucket", F.struct("_id", rec.alias("_r")).alias("_s"))
    return (per.groupBy("bucket")
               .agg(F.array_sort(F.collect_list("_s")).alias("_a"))
               .select("bucket",
                       F.concat_ws("", F.transform("_a", lambda s: s["_r"]))
                        .alias("warc")))


def parse_warc_records(df: DataFrame, warc_col: str) -> DataFrame:
    """Parse concatenated WARC/1.0 blobs back into one row per record
    (mapInPandas, one-to-many). Framing is CONTENT-LENGTH DRIVEN — the
    parser reads headers up to the blank line, takes exactly
    Content-Length bytes of payload, then expects the record
    terminator — so payloads that themselves contain 'WARC/1.0' (or
    header-like lines) cannot desynchronize it, which is precisely
    what a naive split-on-magic parser gets wrong.

    Output: (rec_id string, payload string, payload_bytes long).
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out_id, out_p, out_n = [], [], []
            for blob in pdf[warc_col]:
                if blob is None:
                    continue
                data = blob.encode("utf-8") if isinstance(blob, str) \
                    else bytes(blob)
                pos = 0
                while pos < len(data):
                    head_end = data.index(b"\r\n\r\n", pos)
                    headers = data[pos:head_end].decode("utf-8")
                    lines = headers.split("\r\n")
                    if lines[0] != "WARC/1.0":
                        raise ValueError(f"bad WARC magic at {pos}")
                    h = dict(l.split(": ", 1) for l in lines[1:])
                    n = int(h["Content-Length"])
                    body = data[head_end + 4:head_end + 4 + n]
                    tail = data[head_end + 4 + n:head_end + 4 + n + 4]
                    if tail != b"\r\n\r\n":
                        raise ValueError(f"bad record terminator at {pos}")
                    rid = h["WARC-Record-ID"].strip("<>")
                    out_id.append(rid)
                    out_p.append(body.decode("utf-8"))
                    out_n.append(n)
                    pos = head_end + 4 + n + 4
            yield pd.DataFrame({"rec_id": out_id, "payload": out_p,
                                "payload_bytes": out_n})

    return df.mapInPandas(
        gen, "rec_id string, payload string, payload_bytes long")
