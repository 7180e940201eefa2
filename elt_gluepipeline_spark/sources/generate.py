"""Deterministic distributed data generator as a Spark 4 Python
DataSource (SURVEY §2.1 S-family extension — a source the engine
LACKS natively: `rate` is streaming-only and unseeded, and
driver-side createDataFrame caps out at driver memory).

    spark.dataSource.register(SeedGen)
    df = (spark.read.format("seedgen")
               .option("rows", 10_000_000)
               .option("seed", 7)
               .option("partitions", 64)
               .load())

Why it matters at 100 TB: scale tests need inputs BIGGER than any
single machine. This source materializes nothing — each of the
``partitions`` input splits generates its own [start, end) row range
executor-side, so a billion-row frame costs zero driver memory and
reads nothing from disk. Values derive from the GLOBAL row index via
a splitmix64 mix (public-domain algorithm), so the data is
bit-identical under any partitioning — repartition the source and
every determinism test still holds.

Schema: id long, user_id long, ts timestamp_ntz, value double —
the events-like shape the synthetic scale checks want.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType, TimestampNTZType)

_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Public-domain splitmix64 mix (Steele et al.) — cheap, well
    distributed, and dependency-free on executors."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


_EPOCH = dt.datetime(2024, 1, 1)


def _stream_base(seed: int) -> int:
    """64-bit pre-mix of the seed. The per-row mix input is
    ``_splitmix64(seed) ^ i``: the row index perturbs a full-width
    mixed value instead of the low bits of ``seed << 32``, so streams
    stay disjoint past i = 2^32 (a ``seed << 32`` scheme lets the index
    bleed into the seed bits there). Masking the seed to 64 bits also
    keeps seed >= 2^32 from raising OverflowError on the Arrow
    path."""
    return _splitmix64(seed & _MASK)


def _row(seed: int, i: int):
    h = _splitmix64(_stream_base(seed) ^ i)
    user_id = h % 10_000
    ts = _EPOCH + dt.timedelta(seconds=i % 31_536_000)
    value = (h >> 16) % 1_000_000 / 100.0
    return (i, user_id, ts, value)


class _RangePartition(InputPartition):
    def __init__(self, seed: int, start: int, end: int):
        self.seed, self.start, self.end = seed, start, end


_BATCH = 65_536


def _mix_np(x):
    """Vectorized splitmix64 over a uint64 numpy array — bit-identical
    to the scalar `_splitmix64` (pinned by test); numpy unsigned ops
    wrap modulo 2^64 exactly like the masked Python arithmetic (the
    wraparound is the algorithm, so the overflow warning is noise)."""
    import numpy as np

    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


class _SeedGenReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.seed = int(options.get("seed", 0))
        self.parts = max(1, int(options.get("partitions", 8)))

    def partitions(self):
        if self.rows <= 0:                   # empty source, one no-op split
            return [_RangePartition(self.seed, 0, 0)]
        per = -(-self.rows // self.parts)    # ceil
        return [_RangePartition(self.seed, lo, min(lo + per, self.rows))
                for lo in range(0, self.rows, per)]

    def read(self, partition: _RangePartition):
        # Arrow fast path: vectorized numpy → RecordBatch (the tuple
        # path serializes row-at-a-time through the Python worker and
        # is ~100× slower; for a generator the batch IS the product)
        import numpy as np
        import pyarrow as pa

        epoch_us = int(_EPOCH.timestamp() * 0) + int(
            (_EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
        base = np.uint64(_stream_base(partition.seed))
        for lo in range(partition.start, partition.end, _BATCH):
            hi = min(lo + _BATCH, partition.end)
            i = np.arange(lo, hi, dtype=np.uint64)
            h = _mix_np(base ^ i)
            ts_us = epoch_us + (i % np.uint64(31_536_000)).astype(
                np.int64) * 1_000_000
            yield pa.RecordBatch.from_arrays(
                [pa.array(i.astype(np.int64)),
                 pa.array((h % np.uint64(10_000)).astype(np.int64)),
                 pa.array(ts_us, type=pa.timestamp("us")),
                 pa.array(((h >> np.uint64(16)) % np.uint64(1_000_000))
                          .astype(np.float64) / 100.0)],
                names=["id", "user_id", "ts", "value"])


class SeedGen(DataSource):
    @classmethod
    def name(cls) -> str:
        return "seedgen"

    def schema(self) -> StructType:
        return StructType([
            StructField("id", LongType(), False),
            StructField("user_id", LongType(), False),
            StructField("ts", TimestampNTZType(), False),
            StructField("value", DoubleType(), False),
        ])

    def reader(self, schema) -> _SeedGenReader:
        return _SeedGenReader(self.options)
