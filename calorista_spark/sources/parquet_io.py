"""Partitioned parquet store (SURVEY §1.4, §2.1 S7–S9).

The reference's ``food_entries:YYYY-MM-DD`` Redis keys become a
date-partitioned parquet table: key-pattern scans become directory
listings, point lookups become partition pruning, and the per-date
read-modify-write upsert becomes a keyed merge.

On a Delta/Iceberg deployment ``merge_into_store`` is a real
``MERGE INTO`` and only touched files rewrite; the parquet fallback
here rewrites the table atomically-per-partition via dynamic partition
overwrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from calorista_spark.operators.merge import merge_upsert


def write_store(df: DataFrame, path: str, partition_col: str = "date") -> None:
    """S8: date-partitioned write — one directory per day replaces one
    Redis key per day (main.py:133-134)."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """S9: full-table read; date predicates prune partitions (the
    dashboard's scan_iter load, streamlit_app.py:127, with pushdown
    the reference lacks)."""
    return spark.read.parquet(path)


def store_has_data(path: str) -> bool:
    """True only if actual parquet data files exist — a store written
    from an empty frame has _SUCCESS but no parts and cannot be read
    back (no schema to infer)."""
    if not os.path.isdir(path):
        return False
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table (§4.3): co-locates future joins/aggs on
    ``bucket_col`` — two tables bucketed the same way join with ZERO
    shuffle. This is the parquet-era answer to 'reuse a partitioning
    across stages'; on Delta the same role is played by clustering.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name, format="parquet")


def merge_into_store(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str = "date",
) -> None:
    """S7: keyed upsert into the store (reference main.py:115-170's
    per-date read-modify-write, made atomic and distributed)."""
    if store_has_data(path):
        target = read_store(spark, path)
        merged = merge_upsert(target, incoming.select(*target.columns), keys)
        # materialize before overwriting the path being read
        merged = merged.localCheckpoint(eager=True)
    else:
        merged = incoming
    write_store(merged, path, partition_col)


def compact_store(
    spark: SparkSession,
    path: str,
    partition_col: str = "date",
    target_rows_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Small-file compaction: rewrite each partition into
    ceil(rows / target_rows_per_file) files.

    Streaming/incremental sinks accrete one file per micro-batch per
    partition; scan cost then grows with file COUNT (task overhead,
    footer reads), not data size — the classic small-files problem.
    Compaction restores O(data) scans. On Delta this is OPTIMIZE; on
    plain parquet it is this read → per-partition repartition →
    dynamic-partition-overwrite rewrite.

    Returns {partition_value: n_files_written}.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    counts = {
        str(r[0]): r[1]
        for r in df.groupBy(partition_col).count().collect()
    }
    n_files = {
        k: max(1, -(-c // target_rows_per_file)) for k, c in counts.items()
    }
    # one pass per distinct file count (usually 1): repartition within
    # the partition subset and overwrite just those partitions
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for files in sorted(set(n_files.values())):
            keys = [k for k, v in n_files.items() if v == files]
            subset = df.filter(F.col(partition_col).cast("string").isin(keys))
            subset.repartition(files).write.mode("overwrite").partitionBy(
                partition_col
            ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return n_files
