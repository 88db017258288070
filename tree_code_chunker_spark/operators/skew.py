"""Hot-key census.

Skew from hot cells is handled where it arises, from observed sizes rather
than a caller's flag:
 1. AQE skew-join splitting is always on (plans/session.py): it splits
    oversized shuffle partitions of sort-merge joins at runtime.
 2. kNN's fine tier (operators/knn.py): each hot histogram cell carries
    its own unit-granularity SAT, so a query inside a dense cell plans a
    unit-scale radius instead of the coarse cell's.

`hot_keys` is the census that names the hot set: a groupBy(count) at the
key's resolution, tiny output (<= #keys), broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hot_keys(df: DataFrame, key: str, threshold_rows: int) -> DataFrame:
    """Census: keys whose row count exceeds threshold (the hot set)."""
    return (
        df.groupBy(key).agg(F.count("*").alias("n"))
        .filter(F.col("n") > threshold_rows)
        .select(key, "n")
    )
