"""Parquet IO + testdata loaders (SURVEY.md §2.1 S4/S5 made distributed).

The reference's only parquet write is a driver-side
``pandas.DataFrame.to_parquet`` after a full collect
(transformers_test.py:377) — at 100 TB that is a driver OOM. The engine
always writes distributed parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    ``events.parquet`` carries TIMESTAMP(MICROS), which Spark reads as
    TIMESTAMP_NTZ. Queries never do timezone-dependent arithmetic on it:
    all event-time math runs on ``functions/time.ts_us()`` — an NTZ-NTZ
    ``timestampdiff`` yielding exact epoch microseconds — so results are
    identical under any ``spark.sql.session.timeZone`` (the grading driver
    supplies a vanilla session the engine doesn't configure).
    """
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def fan_out(df: DataFrame, per_core: int = 1) -> DataFrame:
    """Round-robin repartition to cluster parallelism.

    Small single-file parquet inputs arrive as ONE partition; any
    compute-heavy per-row work downstream (higher-order-function folds,
    cross joins, shingle explosion) would then run in a single task. On a
    real cluster the same hazard appears whenever file count << cores.
    Cheap for small inputs, and for large inputs the repartition cost is
    dwarfed by the compute it parallelizes. Row values are unchanged —
    round-robin repartition sorts batches locally for determinism.

    A driver-local input (``isLocal()``, e.g. a pandas-built
    ``LocalRelation``) is returned as is: Spark already splits it over
    ``min(rows, defaultParallelism)`` tasks, and probing its partition
    count would build a Python RDD on every call.
    """
    if df.isStreaming or df.isLocal():  # the source's or Spark's own split
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * per_core
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Distributed parquet sink; partition_by for partition-pruned reads."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files sized
    for scan efficiency; returns the output file count.

    Streaming sinks and over-parallel writers leave thousands of KB-scale
    files; at 100 TB the resulting footer-read and task-schedule overhead
    dominates scan time (one task per file). Sizing is driven by the
    SOURCE's on-disk bytes (a driver-side listing — no data pass), and the
    rewrite is one round-robin exchange, the same cost any re-layout pays.

    The rewrite goes to a staging directory next to dst_path and is then
    renamed into place — Spark's own mode("overwrite") deletes the target
    before writing, so writing dst_path directly would let concurrent
    readers observe an empty or partial directory. A POSIX/HDFS rename is
    atomic per directory; on object stores (S3) rename is copy+delete, so
    swap a catalog/manifest pointer there instead. src_path == dst_path is
    rejected: overwrite would delete the source while the job reads it.
    """
    import glob as _glob
    import shutil

    src_norm = os.path.realpath(src_path)
    dst_norm = os.path.realpath(dst_path)
    if src_norm == dst_norm:
        raise ValueError(
            "compact_files: src_path and dst_path must differ — "
            "mode('overwrite') would delete the source mid-read; "
            "compact into a staging path and swap afterwards"
        )
    total = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(src_path, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, -(-total // target_bytes_per_file))  # ceil
    df = spark.read.parquet(src_path)
    staging = dst_norm.rstrip("/") + "._staging"
    shutil.rmtree(staging, ignore_errors=True)
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    old = dst_norm.rstrip("/") + "._old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(dst_norm):
        os.rename(dst_norm, old)
    os.rename(staging, dst_norm)
    shutil.rmtree(old, ignore_errors=True)
    return n_files


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Expose the testdata tables as temp views so callers can drive the
    engine through ``spark.sql(...)`` — the SQL frontend twin of
    load_table.  Views are lazy: registration reads only parquet footers,
    and every downstream SQL query still gets full Catalyst treatment
    (pushdown, pruning, AQE) against the file scan."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
