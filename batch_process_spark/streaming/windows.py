"""Time-window aggregations — batch/stream unified.

Each aggregation is written once against a DataFrame and works for
both ``spark.read`` (batch, oracle-checkable) and ``spark.readStream``
(incremental with watermark) inputs — Spark's unified semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from batch_process_spark.functions.rounding import round_half_up


def tumbling_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    keys: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Per-window count/sum/avg. Streaming input: pass ``watermark`` to
    bound state and admit late data up to the delay."""
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    keys = keys or []
    return (
        df.groupBy(F.window(ts_col, width).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            round_half_up(F.avg("value")).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            *keys,
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    slide: str = "30 minutes",
    keys: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide buckets
    (window starts align to epoch multiples of the slide)."""
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    keys = keys or []
    aggs = [F.count(F.lit(1)).alias("n_events")]
    extra = []
    if "value" in df.columns:  # value sum only when the frame carries one
        aggs.append(F.round(F.sum("value"), 4).alias("sum_value"))
        extra = ["sum_value"]
    return (
        df.groupBy(F.window(ts_col, width, slide).alias("w"), *keys)
        .agg(*aggs)
        .select(F.col("w.start").alias("bucket_start"), *keys, "n_events", *extra)
    )


def session_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Sessionization (batch form): a session breaks when the gap to
    the previous event exceeds the threshold; classic lag + running sum
    of break flags. One shuffle on the key."""
    w = Window.partitionBy(key).orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    df = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("__new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        df.groupBy(key, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Native session windows (``F.session_window``) — the
    streaming-capable twin of ``session_agg``: state merges adjacent
    windows within the gap; a watermark bounds open-session state."""
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def drain_all(q) -> None:
    """Drain a streaming query so that every file synchronously written
    BEFORE this call is processed — ``processAllAvailable()`` alone is
    not enough. That call resets the engine's internal ``noNewData``
    flag and returns on the next no-data trigger signal; but the
    micro-batch thread may already be MID-TRIGGER, having listed the
    source directory BEFORE the caller's latest file write, and its
    completion still delivers the signal (check-then-signal race).
    Observed in the wild: a 201-query selfcheck sweep under load where
    q150's result table held sessions over exactly slices 0+1 — the
    final fed slice was never discovered, no error raised.

    Calling ``processAllAvailable()`` TWICE closes the race: triggers
    run sequentially on one thread, so whichever trigger wakes the
    second call must have STARTED (and listed the source) after the
    first call returned — which is after the caller's write. Cost: one
    extra idle trigger (~10 ms), only in these test/drive paths."""
    q.processAllAvailable()
    q.processAllAvailable()


def drive_query(q, feeds=()) -> None:
    """The one drive loop for a started streaming query: drain, run
    each ``feed`` callable followed by a full drain (so the watermark
    advances between REAL micro-batches), raise the stream's own error
    if it died, and stop it whatever happened.

    processAllAvailable() on a TERMINATED query returns immediately: if
    the stream died mid-run (transient executor loss under host load, a
    failing foreachBatch body), the loop silently no-ops and the sink
    still holds the last successful batch's output — a stale PARTIAL
    result that reads as a wrong answer downstream. ``q.exception()``
    surfaces the failure instead."""
    try:
        drain_all(q)
        for feed in feeds:
            feed()
            drain_all(q)
        err = q.exception()
        if err is not None:
            raise err
    finally:
        q.stop()


# Stateful operators materialize one state store per shuffle partition
# per micro-batch, so a tiny local drive at the session's 32 burns
# seconds of pure store setup/commit. Every memory-sink drive pins
# spark.sql.shuffle.partitions to this for the query's lifetime
# (restored after); real deployments size it to the key cardinality.
STATE_PARTITIONS = 4


def drive_stream_to_memory(
    spark,
    out: DataFrame,
    query_name: str,
    output_mode: str,
    feeds=None,
    scoped_conf: dict[str, str] | None = None,
) -> DataFrame:
    """Shared driver for the memory-sink streaming runners: start the
    query at ``STATE_PARTITIONS`` shuffle partitions, run ``drive_query``
    over ``feeds`` and return the result table.

    ``scoped_conf``: further session confs pinned for the query's
    lifetime and restored after — streaming queries read confs at
    ``.start()`` from a fresh checkpoint, so the scoped override is
    safe, and restoring keeps a shared session (selfcheck, pytest) from
    leaking timezone/trigger/partition settings into later queries."""
    conf = {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS), **(scoped_conf or {})}
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .start()
        )
        drive_query(q, feeds or ())
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.table(query_name)


def run_stream_to_memory(
    spark,
    source_dir: str,
    schema,
    transform,
    query_name: str = "stream_out",
    output_mode: str = "complete",
    feeds=None,
    scoped_conf: dict[str, str] | None = None,
) -> DataFrame:
    """Drive a parquet-source streaming query to completion against a
    static directory (local smoke path: real deployments swap the
    source for kafka/files with triggers). Returns the result table.

    ``feeds``: optional list of callables; each is invoked (e.g. to
    drop another parquet file into ``source_dir``) and then the query
    drains all available data before the next — multiple real
    micro-batches, which is what watermark/late-data semantics need
    (the watermark advances only BETWEEN batches, so single-batch
    drains can never drop anything as late). Confs to pin for the
    query only (timezone, trigger flags) go in ``scoped_conf``."""
    stream = (
        spark.readStream.schema(schema).format("parquet").load(source_dir)
    )
    return drive_stream_to_memory(
        spark, transform(stream), query_name, output_mode, feeds=feeds,
        scoped_conf=scoped_conf,
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str | None = None,
    allow_unbounded_state: bool = False,
) -> DataFrame:
    """Streaming exact dedup on ``keys``.

    With ``watermark`` set, uses ``dropDuplicatesWithinWatermark`` so
    the dedup state is BOUNDED: a key is remembered only until the
    watermark passes it, then evicted — the only shape that survives an
    unbounded stream (plain dropDuplicates keeps every key forever and
    OOMs a 100 TB/day firehose). Duplicates arriving within the
    watermark window are dropped; a recurrence after eviction is
    treated as new, which is the documented trade. Batch inputs use
    plain dropDuplicates (state is finite there).

    A STREAMING input without a watermark is refused unless
    ``allow_unbounded_state=True``: silently falling back to plain
    dropDuplicates would be indistinguishable from the bounded path
    while growing state forever — the exact failure this function
    exists to prevent."""
    if events.isStreaming:
        if watermark:
            return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
        if not allow_unbounded_state:
            raise ValueError(
                "stream_dedup on a STREAMING input without a watermark keeps "
                "every key in state forever. Pass watermark=<delay> for "
                "bounded state (dropDuplicatesWithinWatermark), or "
                "allow_unbounded_state=True to accept unbounded growth "
                "explicitly."
            )
    return events.dropDuplicates(keys)
