"""Small-files compaction — the unglamorous op every long-lived
parquet lake needs: streaming sinks, per-batch upserts, and
high-parallelism writes leave thousands of KB-size files whose
per-file open/footer cost eventually dominates scans.

``compact_parquet`` rewrites a directory to ~``target_mb`` files:
size-based (actual bytes on disk, not row counts), swap-on-success
(write to temp, then replace), optional sort for min/max data skipping.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from batch_process_spark.sinks.hadoopfs import HadoopFS, recover_swap_fs, swap_directory_fs


def parquet_files(path: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(path):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_by: list[str] | None = None,
    min_files: int = 2,
) -> dict:
    """Rewrite ``path`` into ~target_mb-sized files.

    Returns {files_before, files_after, bytes} (no-op dict when the
    directory already has fewer than ``min_files`` files). ``sort_by``
    additionally sorts within output files so parquet column min/max
    stats become selective (poor-man's clustering — real data skipping
    at scan time).
    """
    tmp = path.rstrip("/") + ".__compact__"
    fs = HadoopFS(spark, path)
    recover_swap_fs(fs, path, tmp)  # repair any crashed earlier swap first
    files = parquet_files(path)
    total_bytes = sum(os.path.getsize(f) for f in files)
    if len(files) < min_files:
        return {"files_before": len(files), "files_after": len(files), "bytes": total_bytes}
    n_out = max(1, round(total_bytes / (target_mb * 1024 * 1024)))
    df: DataFrame = spark.read.parquet(path)
    if sort_by:
        out = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.coalesce(n_out) if n_out < len(files) else df.repartition(n_out)
    out.write.mode("overwrite").parquet(tmp)
    swap_directory_fs(fs, tmp, path)
    from batch_process_spark.queries import invalidate_tables

    invalidate_tables(path)  # cached plans snapshot the old file listing
    return {
        "files_before": len(files),
        "files_after": len(parquet_files(path)),
        "bytes": total_bytes,
    }
