"""Streaming CDC ingestion: foreachBatch upsert into a parquet target.

The standard Structured-Streaming change-data pattern: each micro-batch
is applied to the target table with MERGE semantics (same-key rows
replaced, new keys appended) via ``operators/merge.merge_upsert``.

Without a transactional table format (no Delta/Iceberg jars in this
environment) the target is swapped wholesale per batch: write to a
temp dir, then replace. That is atomic enough for a single writer and
makes the semantics testable; a production 100 TB deployment would put
Delta/Iceberg under the same ``foreachBatch`` callback and get
partition-level rewrites + snapshot isolation with no change to the
upsert logic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from batch_process_spark.operators.merge import merge_upsert
from batch_process_spark.sinks.hadoopfs import HadoopFS, recover_swap_fs, swap_directory_fs


def upsert_batch(
    batch_df: DataFrame,
    target_dir: str,
    keys: Sequence[str],
    order_col: str | None = None,
) -> None:
    """Apply one (micro-)batch to the parquet target with MERGE
    semantics. Within-batch duplicate keys collapse to ONE row first —
    a batch must not insert the same key twice. With ``order_col`` the
    LATEST change wins (CDC ordering; NULL order values lose to any
    non-NULL one but keep their full payload — they are never turned
    into NULL rows). Ties and the no-``order_col`` case break on a
    JSON fingerprint of the payload: deterministic across
    retries/partitioning (``dropDuplicates`` keeps whichever row a
    partition scan saw first) and safe for unorderable payload types
    (maps), which struct-ordering aggregates like ``max_by`` reject.
    """
    keys = list(keys)
    spark = batch_df.sparkSession
    payload = [c for c in batch_df.columns if c not in keys]
    fingerprint = (
        F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in payload])))
        if payload
        else F.lit(0)
    )
    order_exprs = [fingerprint.asc()]
    if order_col:
        order_exprs.insert(0, F.col(order_col).desc_nulls_last())
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_exprs)
    batch_df = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    tmp = target_dir.rstrip("/") + ".__tmp__"
    fs = HadoopFS(spark, target_dir)
    recover_swap_fs(fs, target_dir, tmp)  # repair any crashed earlier swap first
    if fs.exists(target_dir):
        merged = merge_upsert(spark.read.parquet(target_dir), batch_df, keys)
    else:
        merged = batch_df
    merged.write.mode("overwrite").parquet(tmp)
    swap_directory_fs(fs, tmp, target_dir)
    from batch_process_spark.queries import invalidate_tables

    invalidate_tables(target_dir)  # cached plans snapshot the old file listing


def stream_upsert_to_parquet(
    stream: DataFrame,
    target_dir: str,
    keys: Sequence[str],
    checkpoint_dir: str | None = None,
    order_col: str | None = None,
):
    """Attach the CDC upsert sink to a streaming frame. Returns the
    started StreamingQuery (caller drives/stops it)."""
    writer = stream.writeStream.foreachBatch(
        lambda df, _id: upsert_batch(df, target_dir, keys, order_col=order_col)
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
