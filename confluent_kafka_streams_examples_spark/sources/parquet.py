"""Batch parquet source — the correctness substrate.

Reads go through ``spark.read.parquet`` so Catalyst pushes filters and
prunes columns into the vectorized scan.  At 100 TB this is the dominant
IO path: callers must select only needed columns so ``ReadSchema`` in the
physical plan stays narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def parquet_source(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
) -> DataFrame:
    df = spark.read.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


def write_sized(
    df: DataFrame,
    path: str,
    target_file_mb: int = 256,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet with output files sized toward ``target_file_mb``.

    File sizing is the operational failure mode of 100 TB writes: the
    default one-file-per-task either sprays millions of KB-files (small
    partitions after a selective filter) or emits 10 GB monoliths
    downstream readers can't split IO on.  The Spark-native fix is the
    AQE REBALANCE hint with an advisory partition size: at runtime AQE
    coalesces small shuffle partitions and SPLITS skewed ones toward
    the advisory byte size — one pass, no pre-count, no sampled width
    estimate to go stale.

    With ``partition_by``, the rebalance keys on the partition columns,
    so each hive directory is written by few tasks (instead of every
    task writing a sliver into every directory) while skewed partition
    values still split across tasks.  The advisory size is in-memory
    shuffle bytes — parquet encoding + compression shrinks files a
    further 2-4x, so callers targeting on-disk size should scale up.
    """
    spark = df.sparkSession
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(target_file_mb * 1024 * 1024))
    try:
        hinted = df.hint("rebalance", *partition_by) if partition_by else df.hint("rebalance")
        writer = hinted.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
