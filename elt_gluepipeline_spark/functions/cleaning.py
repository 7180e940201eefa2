"""Text-cleaning & classification expressions (SURVEY.md §2.7 F1-F5,
§2.9 U1-U4 — reference: scripts/go-transform-elt.py).

Every reference UDF becomes a native Column expression (codegen, no
Python in the hot path). Regex CLASSIFICATION keeps the reference's
first-match-wins ordering as a when()-chain fold over an ordered rule
list — Catalyst evaluates the chain short-circuit per row, equivalent
to the broadcast compiled-regex loop but JVM-side.

The reference's double-escaped regexes (bug B2: r"http\\\\S+" matches a
literal backslash, go-transform-elt.py:112,149) are implemented with
the INTENDED single-escape semantics; ``clean_label(compat=True)``
reproduces as-written.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_label(col: Column, *, max_len: int = 30, compat: bool = False) -> Column:
    """U1: strip URLs + backticks, trim, truncate (go-transform-elt.py:105-113)."""
    url_pattern = r"http\\S+" if compat else r"http\S+"
    c = F.regexp_replace(col, url_pattern, "")
    c = F.regexp_replace(c, "`", "")
    return F.substring(F.trim(c), 1, max_len)


def first_match_classify(col: Column, rules: Sequence[tuple[str, str]],
                         default: Column | None = None) -> Column:
    """U2/U3: ordered first-match regex classification.

    ``rules`` is an ordered [(pattern, label)] list; input is lowercased
    first (go-transform-elt.py:115-123). Default None → NULL (beverage
    semantics, :125-136); pass ``F.lower(col)`` for category fallthrough
    semantics (:120-123).
    """
    lowered = F.lower(col)
    expr: Column | None = None
    for pattern, label in rules:
        branch = (lowered.rlike(pattern), F.lit(label))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    if expr is None:
        return default if default is not None else F.lit(None).cast("string")
    return expr.otherwise(default) if default is not None else expr


def clean_item_name(col: Column) -> Column:
    """U4: canonicalize an item/part name (go-transform-elt.py:138-157):
    keep [a-zA-Z0-9|&* ], drop '*', lowercase, remove the stop word
    'the', collapse whitespace."""
    c = F.regexp_replace(col, r"[^a-zA-Z0-9|&* ]", " ")
    c = F.regexp_replace(c, r"\*", "")
    c = F.lower(c)
    c = F.regexp_replace(c, r"\bthe\b", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def extract_size_token(col: Column, size_pattern: str) -> tuple[Column, Column]:
    """F1/F2: pull a size token out of a name; returns (size, name_without_size)
    (go-transform-elt.py:212-218). ``size_pattern`` is one alternation
    regex (built from the size rule list, :86-98)."""
    size = F.lower(F.regexp_replace(F.regexp_extract(col, size_pattern, 0), r"[()]", ""))
    remainder = F.trim(F.regexp_replace(F.regexp_replace(col, size_pattern, " "), r"\s+", " "))
    return size, remainder


def drop_test_rows(pred_cols: Sequence[Column]) -> Column:
    """P7: predicate keeping rows where NO column matches (?i)test
    (go-transform-elt.py:273-278)."""
    keep = F.lit(True)
    for c in pred_cols:
        keep = keep & ~F.coalesce(c.rlike("(?i)test"), F.lit(False))
    return keep


# PII scrubbing: the redaction pass a training corpus runs before
# anything else. Patterns are RE2-compatible (no lookarounds), so the
# same regexes run identically in Spark (Java) and DuckDB/RE2-based
# engines — cross-engine agreement is tested, not assumed.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d{0,3}[-. (]{0,2}\d{3}[-. )]{0,2}\d{3}[-. ]?\d{4}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
)


def scrub_pii(col: Column) -> Column:
    """Replace every PII match with a typed placeholder token
    (``<email>``, ``<phone>``, ...). Chained regexp_replace — pure
    codegen'd expressions, order follows the pattern list (emails
    before phones so a phone regex never eats an address's digits)."""
    out = col
    for name, pattern in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, f"<{name}>")
    return out


# ---------------------------------------------------------------------------
# Unicode normalization: the first pass every multilingual corpus runs
# (mojibake-adjacent variants of the SAME text hash differently until
# codepoint sequences are canonicalized). Spark has no built-in NFC,
# so these are Arrow-batched pandas UDFs over pandas' vectorized
# Series.str.normalize — never row-at-a-time Python.
# ---------------------------------------------------------------------------

def nfc_normalize(col: Column) -> Column:
    """Canonical-composition (NFC) normalization of a string column.
    Null-safe; vectorized via pandas .str.normalize('NFC')."""
    import pandas as pd  # noqa: F401

    @F.pandas_udf("string")
    def _nfc(s):
        return s.str.normalize("NFC")

    return _nfc(col)


def fold_accents(col: Column) -> Column:
    """Accent folding: NFD-decompose then drop every combining mark
    (Unicode category Mn) — 'é' → 'e' whether the input arrived
    composed or decomposed. The search-key / dedup-key normalization
    for accented corpora."""
    import unicodedata

    @F.pandas_udf("string")
    def _fold(s):
        decomp = s.str.normalize("NFD")
        return decomp.map(
            lambda t: None if t is None else
            "".join(ch for ch in t if unicodedata.category(ch) != "Mn"))

    return _fold(col)
