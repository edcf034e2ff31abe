"""Write-side scale tools: partitioned and bucketed parquet sinks.

- Partitioning (hive-style directories) buys partition *pruning*: a
  reader filtering on the partition column touches only matching
  directories — at 100 TB the difference between scanning a day and
  scanning a decade.
- Bucketing buys shuffle *elimination*: two tables bucketed into the
  same number of buckets on their join keys sort-merge-join with no
  Exchange on either side, and aggregations on the bucket key skip
  their shuffle too. Pre-pay the shuffle once at write time, reuse it
  every query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet. Callers should partition on a
    low-cardinality derived column (date, shard) — one directory per
    value; thousands of values are fine, millions are not."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (metastore-registered; data at `path`).
    Sorting within buckets additionally removes the Sort from future
    sort-merge joins on the bucket key."""
    w = (
        df.write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compact(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a dataset into ~target-sized parquet
    files. Streaming sinks and per-partition writers accumulate thousands
    of tiny files whose per-file open/footer cost dominates reads at
    scale; compaction is routine table maintenance. File count is sized
    from the JVM-estimated in-memory bytes (an upper bound on parquet
    size, so files come out at-or-under target); returns the file count.
    Uses coalesce (no shuffle) — use repartition first if skewed."""
    est_bytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_files = max(1, int(min(est_bytes, 1 << 50) // target_file_bytes))
    df.coalesce(n_files).write.mode(mode).parquet(path)
    return n_files
