"""Stream-stream joins with bounded state.

The reference engine has no streaming surface; this module extends the
engine the same way ``windows.py``/``stateful.py`` do — Spark-first
Structured Streaming, with the state-boundedness guards the 100 TB
story requires. A stream-stream join WITHOUT watermarks + a time-bound
join condition keeps every input row in state forever (the engine
cannot know when a match can no longer arrive); at firehose scale that
is an OOM, not a slow query. So, like ``stream_dedup``, the builder
REFUSES the unbounded shape unless explicitly opted in.

Semantics note (probed empirically, pinned by q100's oracle): late-row
input filtering uses the GLOBAL watermark — the minimum across every
side's watermark — so a side whose event time never advances holds the
whole join's watermark back. State eviction additionally derives each
side's "no more matches possible" horizon from the time-bound join
condition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delay: str,
    watermark: str | None = None,
    how: str = "inner",
    allow_unbounded_state: bool = False,
) -> DataFrame:
    """Join two streams on ``on`` where ``right_ts`` falls within
    ``[left_ts, left_ts + max_delay]`` (the impression->click shape).

    ``watermark`` bounds BOTH sides' state; with it unset on streaming
    inputs the join state grows forever, so the call is refused unless
    ``allow_unbounded_state=True``. Batch inputs skip watermarks (state
    is finite there) — the same builder then expresses the batch
    interval join, so one call site serves both execution modes.

    100 TB shape: the equi-key ``on`` is the shuffle key (both sides
    hash-partition on it); per-key state holds only rows younger than
    the watermark + ``max_delay`` horizon, evicted as the global
    watermark passes. The time-range predicate prunes within the key
    group — never a cross product.
    """
    streaming = left.isStreaming or right.isStreaming
    if streaming and watermark is None and not allow_unbounded_state:
        raise ValueError(
            "stream_interval_join on STREAMING input without a watermark "
            "keeps every row of both sides in join state forever. Pass "
            "watermark=<delay> for bounded state, or "
            "allow_unbounded_state=True to accept unbounded growth "
            "(batch-only tests, bounded replays)."
        )
    if streaming and watermark is not None:
        left = left.withWatermark(left_ts, watermark)
        right = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        f"l.{on} = r.{on} AND r.{right_ts} >= l.{left_ts} "
        f"AND r.{right_ts} <= l.{left_ts} + interval {max_delay}"
    )
    return left.alias("l").join(right.alias("r"), cond, how)


def run_two_streams_to_memory(
    spark,
    left_dir: str,
    left_schema: str,
    right_dir: str,
    right_schema: str,
    transform,
    query_name: str = "join_out",
    output_mode: str = "append",
    feeds=None,
    scoped_conf: dict[str, str] | None = None,
):
    """Drive a two-source streaming query to completion (the two-input
    sibling of ``windows.run_stream_to_memory`` — start/drain/feed/
    conf-scoping shared via ``windows.drive_stream_to_memory``).
    ``transform`` takes (left_stream, right_stream) and returns the
    joined stream; ``feeds`` are callables appending files to either
    directory, each followed by a full drain so the watermark advances
    between real micro-batches. ``scoped_conf`` as in
    ``run_stream_to_memory``."""
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    l = spark.readStream.schema(left_schema).format("parquet").load(left_dir)
    r = spark.readStream.schema(right_schema).format("parquet").load(right_dir)
    return drive_stream_to_memory(
        spark, transform(l, r), query_name, output_mode, feeds=feeds,
        scoped_conf=scoped_conf,
    )
