"""Distributed global ranking — the scale-safe form of an
``ORDER BY``-only (unpartitioned) window.

A global window (``Window.orderBy(...)`` with no partitionBy) moves
every row through ONE task — the textbook single-node bottleneck at
scale. The two-phase form here keeps every stage distributed:

1. ``repartitionByRange`` on the order keys: a sampling-based range
   shuffle that gives totally-ordered partitions; equal keys land in
   the same partition, so tie runs never span partition boundaries.
2. A per-partition Arrow kernel computes LOCAL row_number / rank /
   dense_rank / tie-run-end positions (vectorized pandas; each task
   sees only its own partition).
3. A per-partition stats aggregate — one row per partition — is
   collected to the driver, turned into cumulative row / distinct-run
   offsets, and broadcast-joined back. Global rank = partition offset
   + local rank.

Cost: one range shuffle over the data + one tiny (n_partitions-row)
collect. No stage sees more than a partition of rows at once.

Reference parity: this backs the rank-family query surface (the
reference computes ranks via pandas ``Series.rank``-style helpers on
driver-local frames, e.g. numeric ranking in its stats processors);
the distributed form is the 100 TB rewrite of the same semantics.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_process_spark.operators.caching import pinned_for_result

_PID, _RN, _RK, _DR, _CE = "__gr_pid", "__gr_rn", "__gr_rk", "__gr_dr", "__gr_ce"


def global_ranks(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    sort_key_cols: Sequence[str] | None = None,
    n_tiles: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append global ``row_number``/``rank``/``dense_rank``/
    ``percent_rank``/``cume_dist`` (and ``ntile`` when ``n_tiles``)
    columns ordered by ``order_cols``, without a single-task window.

    ``order_cols`` may be expressions; ``sort_key_cols`` names the
    materialized key columns the kernel compares for ties (defaults to
    string ``order_cols``). Ascending order only (matching SQL's
    default ``OVER (ORDER BY ...)``); wrap values (e.g. negate) for
    descending.

    The intermediate ranked frame is persisted for the duration of the
    stats job; callers consuming the result lazily re-read it from
    cache. Equal keys never span range partitions, so ranks are exact
    across boundaries.
    """
    import pandas as pd
    from pyspark import TaskContext

    exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if sort_key_cols is None:
        if not all(isinstance(c, str) for c in order_cols):
            raise ValueError("pass sort_key_cols when order_cols are expressions")
        keys = list(order_cols)
        staged = df
    else:
        keys = list(sort_key_cols)
        staged = df.withColumns({k: e for k, e in zip(keys, exprs)})

    parts = num_partitions or staged.sparkSession.sparkContext.defaultParallelism
    rp = staged.repartitionByRange(parts, *[F.col(k).asc() for k in keys]).sortWithinPartitions(
        *[F.col(k).asc() for k in keys]
    )

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    out_schema = StructType(
        list(rp.schema.fields)
        + [StructField(_PID, IntegerType())]
        + [StructField(c, LongType()) for c in (_RN, _RK, _DR, _CE)]
    )

    def kernel(it: Iterable["pd.DataFrame"]):
        batches = list(it)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        n = len(pdf)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        rn = pd.RangeIndex(1, n + 1)
        kf = pdf[keys]
        # new-run marker: any key differs from the previous row's
        # (NaN-safe: a NaN run continues while both sides are NaN)
        neq = (kf != kf.shift()) & ~(kf.isna() & kf.isna().shift(fill_value=False))
        change = neq.any(axis=1)
        change.iloc[0] = True
        run_id = change.cumsum()  # 1-based dense rank within partition
        rank = pd.Series(rn, index=pdf.index).where(change).ffill().astype("int64")
        run_end = (
            pd.Series(rn, index=pdf.index)
            .groupby(run_id)
            .transform("max")
            .astype("int64")
        )
        pdf[_PID] = pid
        pdf[_RN] = rn
        pdf[_RK] = rank
        pdf[_DR] = run_id.astype("int64")
        pdf[_CE] = run_end
        yield pdf

    ranked = pinned_for_result(rp.mapInPandas(kernel, schema=out_schema))
    stats = (
        ranked.groupBy(_PID)
        .agg(F.max(_RN).alias("n"), F.max(_DR).alias("d"))
        .collect()
    )
    row_off, dense_off, total, dtotal = {}, {}, 0, 0
    for r in sorted(stats, key=lambda r: r[_PID]):
        row_off[r[_PID]] = total
        dense_off[r[_PID]] = dtotal
        total += r["n"]
        dtotal += r["d"]

    spark = df.sparkSession
    offsets = spark.createDataFrame(
        [(p, row_off[p], dense_off[p]) for p in row_off],
        f"{_PID} int, __gr_roff long, __gr_doff long",
    )
    out = ranked.join(F.broadcast(offsets), _PID)

    g_rn = (F.col("__gr_roff") + F.col(_RN)).alias("row_number")
    g_rk = F.col("__gr_roff") + F.col(_RK)
    g_dr = F.col("__gr_doff") + F.col(_DR)
    g_ce = F.col("__gr_roff") + F.col(_CE)
    pct = (
        F.lit(0.0) if total <= 1 else (g_rk - F.lit(1)) / F.lit(float(total - 1))
    )
    cols = [
        g_rn,
        g_rk.alias("rank"),
        g_dr.alias("dense_rank"),
        pct.alias("percent_rank"),
        (g_ce / F.lit(float(total))).alias("cume_dist"),
    ]
    if n_tiles:
        t = int(n_tiles)
        big, rem = divmod(total, t)
        boundary = (big + 1) * rem
        rn_ = F.col("__gr_roff") + F.col(_RN)
        if big == 0:  # fewer rows than tiles: tile == row_number
            tile = rn_
        else:
            tile = F.when(rn_ <= boundary, F.ceil(rn_ / F.lit(big + 1))).otherwise(
                F.lit(rem) + F.ceil((rn_ - F.lit(boundary)) / F.lit(big))
            )
        cols.append(tile.cast("long").alias("ntile"))

    passthrough = [c for c in df.columns]
    result = out.select(*passthrough, *cols)
    result._bps_persisted = ranked  # caller may release after its action
    return result
