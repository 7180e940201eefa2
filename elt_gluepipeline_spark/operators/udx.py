"""User-defined aggregate surface (SURVEY.md §2.9).

The reference's UDFs are all scalar row-functions, re-expressed here
as native expressions (U1-U5). ``median_udaf()`` is the grouped-
AGGREGATE shape, with the same discipline the scalar ones got —
Arrow-vectorized, deterministic, oracle-checkable: the whole group
arrives as one pandas Series; np.median sorts internally, so the
result is independent of shuffle arrival order (a float SUM in the
same position would not be — accumulation order varies run to run).

It is a factory: UDF registration parses the return type, which needs
an active SparkSession — a module-level decorator would demand one at
import time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def median_udaf():
    """Exact median as a grouped-agg pandas UDF (np.median sorts —
    order-independent, matching DuckDB's quantile_cont(0.5))."""

    @pandas_udf("double")
    def median(v: pd.Series) -> float:
        return float(np.median(v.dropna().to_numpy(dtype="float64")))

    return median


