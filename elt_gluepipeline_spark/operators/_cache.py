"""Session-scoped registry for operator-internal persisted DataFrames.

Several operators persist an intermediate that feeds multiple
consumers inside one returned plan (prefix-join shingle sets, triangle
degree tables). ``DataFrame.persist`` is lazy, so the operator itself
can never unpersist — it returns before any job runs — and silently
leaking the handle pins executor storage memory for the life of the
session. Policy: operators register every persisted intermediate here,
and harness code that runs MANY queries through one session (bench.py,
tools/check_correctness.py, test fixtures) calls
``release_operator_caches()`` between queries. Storage level is
MEMORY_AND_DISK so a too-large intermediate degrades to disk instead
of evicting neighbors or OOMing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and track the handle for a
    later bulk release. Returns ``df`` for chaining."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(df)
    return df


def release_operator_caches() -> int:
    """Unpersist every registered operator cache (non-blocking) and
    clear the registry. Returns how many handles were released. Safe
    to call at any time — Spark recomputes a released intermediate if
    a later job still needs it."""
    n = len(_LIVE)
    for df in _LIVE:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to release
    _LIVE.clear()
    return n
