"""Window functions — extension surface (reference: no window plan node or
binder path, SURVEY.md §2.2).

Scale notes: a window spec with ``partitionBy`` shuffles once on the partition
keys and sorts within partitions. Avoid windows with NO partitionBy at scale
(single-partition sort). For per-group top-k prefer
``row_number <= k`` over a global sort — Spark pushes a per-partition limit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def per_group_top_k(
    df: DataFrame,
    partition_by: Sequence[Column | str],
    order_by: Sequence[Column | str],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number — the scalable grouped-top-k."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
