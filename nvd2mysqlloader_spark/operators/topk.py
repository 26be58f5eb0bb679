"""Top-1 per key — the reference's only sort pattern.

Reference: ``SELECT lastModifiedDate FROM update_history WHERE
download_name=%s ORDER BY downloadedDate DESC LIMIT 1``
(nvd2mysqlloader.py:72) — a point-filtered top-1. Generalized here to
all keys at once (SURVEY.md §2 #16, #31).

Scale: ``max_by`` aggregates with a partial (map-side combine) —
cheaper than a ``row_number`` window's full sort at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def top1_per_key(df: DataFrame, keys: Sequence[str], order_col: str,
                 payload: Sequence[str]) -> DataFrame:
    """Latest row per key via ``max_by`` (partial-aggregatable).

    Returns ``keys + [order_col] + payload`` where each payload column
    is taken from the row maximizing ``order_col``. Ties on
    ``order_col`` are broken by the first payload column to keep output
    deterministic (max_by alone is tie-nondeterministic).
    """
    tie = F.struct(F.col(order_col), *[F.col(c) for c in payload])
    aggs = [F.max(order_col).alias(order_col)] + [
        F.max_by(c, tie).alias(c) for c in payload]
    return df.groupBy(*keys).agg(*aggs)
