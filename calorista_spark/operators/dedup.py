"""Exact deduplication (SURVEY §2.4 O-D1/O-D2, §2.11 L1).

The reference dedups with an in-memory fingerprint set, first-seen
wins over arrival order (main.py:96-105). Arrival order doesn't exist
in a distributed engine, so "first" must be defined by data: callers
pass an explicit ``keep_order`` — the row with the smallest value wins
deterministically. At 100 TB this is a single hash shuffle on the key
(or zero shuffle if the table is bucketed by the key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(
    df: DataFrame,
    keys: list[str],
    keep_order: list[Column | str] | None = None,
) -> DataFrame:
    """Keep one row per key.

    With ``keep_order`` the survivor is deterministic (min by that
    order — replicates the reference's "first seen wins" given an
    explicit arrival order column). Without it, falls back to
    ``dropDuplicates`` (arbitrary survivor, cheapest plan: partial
    map-side dedup before the shuffle).
    """
    if not keep_order:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*keep_order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
