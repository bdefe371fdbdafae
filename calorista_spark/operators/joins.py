"""Join surface (SURVEY §2.8 J1–J7).

J1–J5/J7 are direct DataFrame joins — Catalyst + AQE pick the physical
strategy; the helpers here only encode *scale policy* (which side to
broadcast, how to avoid a range-join explosion). The as-of join (J6)
is the one genuinely custom operator: implemented with the union +
last-observation-carried-forward window, which costs ONE shuffle-sort
on (key, time) instead of the quadratic blowup of a naive range join —
the standard distributed merge-asof shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_keys: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """J6: for each left row, the latest right row with
    ``right.ts <= left.ts`` within the same partition key.

    Generalizes the reference's ``last_weight_*`` fields
    (models.py:12-13: a profile carries the most recent weight
    observation at read time).

    Shape: tag both inputs, union, one window sorted by (key, ts) with
    ``last(value, ignorenulls=True)`` carrying the right side forward,
    then keep left rows. Right rows sort before left rows at equal
    timestamps, so ties are inclusive (<=).
    """
    lcols = left.columns
    struct_val = F.struct(*[F.col(c) for c in value_cols])
    r = right.select(
        *partition_keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        struct_val.alias("__val"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in partition_keys],
    )
    l = left.select(
        *partition_keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__val"].dataType).alias("__val"),
        *[F.col(c) for c in lcols if c not in partition_keys],
    )
    # Tie-break: right rows sort before left at equal ts (inclusive
    # <=); among right rows with equal ts, struct fields give a total
    # order so the carried row is deterministic. Left rows have __val
    # null, and (ts, side) groups never mix sides, so null ordering
    # differences across engines can't surface.
    w = (
        Window.partitionBy(*partition_keys)
        .orderBy("__ts", "__side", *[F.col(f"__val.{c}") for c in value_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r.unionByName(l).withColumn(
        "__carried", F.last("__val", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1).select(
        *lcols,
        *[F.col("__carried").getField(c).alias(f"{c}{suffix}") for c in value_cols],
    )
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi join: explode the (small-ish) right side
    ``salt_buckets``× and scatter the left side's hot keys uniformly.

    AQE's skew-join splitting handles most skew automatically; this is
    the explicit fallback for extreme single-key skew (one key ≫ one
    partition), where the salt turns 1 straggler task into
    ``salt_buckets`` even ones. Cost: right side replicated ×buckets —
    use only when right is much smaller than the skewed left.

    Salt derives from a hash of all left columns (not rand()), so the
    join stays deterministic and retry-safe.
    """
    l_salt = F.pmod(
        F.hash(*[F.col(c) for c in left.columns]), F.lit(salt_buckets)
    ).alias("__salt")
    l = left.select("*", l_salt)
    r = right.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("__salt")
    )
    return l.join(r, [key, "__salt"], how).drop("__salt")


def range_bucket_join(
    df: DataFrame,
    buckets: DataFrame,
    value: Column | str,
    lo: str = "lo",
    hi: str = "hi",
) -> DataFrame:
    """J5: theta-join a measure into [lo, hi) buckets. The bucket table
    is small by construction → broadcast, so the inequality join is a
    broadcast-nested-loop over a handful of rows, not a cartesian
    shuffle."""
    v = F.col(value) if isinstance(value, str) else value
    return df.join(
        F.broadcast(buckets), (v >= F.col(lo)) & (v < F.col(hi)), "inner"
    )
