"""Tabular sinks.

- CSV (K1): header on; ``single_file`` coalesces to one part for the
  reference's one-file-per-export convention (small results only — a
  100 TB result stays multi-part).
- Parquet (K2) / JSON (K6): direct writes; parquet replaces the
  reference's pickle (K3) and SQLite history (K4) sinks.
- ``cached_parquet``: the reference's sha1-keyed prepared-data cache
  (``plotting_impl.py:93-147``) — reuse across runs keyed on the
  logical inputs.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by=None,
    max_records_per_file: int | None = None,
) -> None:
    """K2 parquet sink. ``partition_by`` lays the output out as
    hive-style directories so later reads prune whole partitions at
    planning time (pinned by ``test_sinks.py``'s pruning guard);
    ``max_records_per_file`` caps file size so a skewed partition
    can't produce one giant unsplittable-row-group file — the two
    layout levers that matter when the output is itself a 100 TB
    input to the next job."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by=None,
) -> None:
    """ORC sink (JVM-native, splittable, predicate-pushdown-capable —
    the columnar alternative when downstream consumers are Hive/Trino
    rather than parquet-first). Same layout levers as ``write_parquet``;
    Spark's ORC writer embeds min/max stripe statistics so filters
    push down on re-read (pinned by ``test_sinks.py``)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source twin of the sink: a plain ``spark.read.orc`` wrapper
    kept symmetric with the other formats so the mixed-format catalog
    (sources/readers.py S6) can route by extension."""
    return spark.read.orc(path)


#: pickle is a driver-side convenience sink (reference parity:
#: ``test/blade_load_extract/plugins/process_blade_load.py:63-65``
#: pickles the result frame next to the report) — small results only.
MAX_PICKLE_ROWS = 1_000_000


def write_pickle(df: DataFrame, path: str, max_rows: int = MAX_PICKLE_ROWS) -> str:
    """K3: pickle the (small) result as a pandas DataFrame — the
    reference's ``to_pickle`` sink. Guarded like the report adapters:
    a big frame fails loud instead of materializing on the driver
    (at scale the durable sink is parquet, K2)."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"write_pickle takes small results (<= {max_rows} rows); "
            "use write_parquet for bulk data"
        )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pdf.to_pickle(path)
    return path


def read_pickle(spark: SparkSession, path: str) -> DataFrame:
    """Round-trip loader for the K3 sink (pandas pickle -> DataFrame)."""
    import pandas as pd

    return spark.createDataFrame(pd.read_pickle(path))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols,
    n_buckets: int = 32,
    sort_cols=None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates later joins/aggs on the
    bucket key without a shuffle (both sides bucketed on the same key
    and count => a sort-merge join with zero exchanges). The write
    itself shuffles once — amortized over every downstream join."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def cache_key(*parts: str) -> str:
    """sha1(inputs)[:16] — the reference's cache key recipe."""
    return hashlib.sha1("|".join(parts).encode("utf-8")).hexdigest()[:16]


def cached_parquet(
    spark: SparkSession, build, cache_dir: str, *key_parts: str
) -> DataFrame:
    """Return the cached frame for ``key_parts`` if present, else call
    ``build()`` (-> DataFrame), persist it to parquet, and return the
    re-read frame (so downstream reads scan the materialized copy)."""
    path = os.path.join(cache_dir, cache_key(*key_parts) + ".parquet")
    if not os.path.exists(path):
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
