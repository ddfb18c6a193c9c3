"""Custom stateful streaming operator test: state accumulates across
micro-batches and matches the batch ground truth."""

import time

import pytest
from pyspark.sql import functions as F

from batch_process_spark.streaming.stateful import running_totals_stream

from batch_process_spark.streaming.windows import drain_all


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    from datetime import datetime

    t = datetime(2024, 1, 1, 10, 0, 0)
    write_batch("b1", [(1, t, 1, 10.0), (2, t, 1, 5.0), (3, t, 2, 1.0)])

    stream = spark.readStream.schema(schema).parquet(str(src))
    out = running_totals_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_out")
        .outputMode("update")
        .start()
    )
    try:
        drain_all(q)
        first = {r["user_id"]: (r["n_events"], r["total_value"])
                 for r in spark.sql("select * from running_out").collect()}
        assert first[1] == (2, 15.0)
        assert first[2] == (1, 1.0)

        # second micro-batch: state must carry over, not reset
        write_batch("b2", [(4, t, 1, 2.5), (5, t, 3, 7.0)])
        drain_all(q)
        rows = spark.sql("select * from running_out").collect()
        # update mode appends new emissions; take the latest per key
        latest = {}
        for r in rows:
            latest[r["user_id"]] = (r["n_events"], r["total_value"])
        assert latest[1] == (3, 17.5)  # 2 prior events + 1 new
        assert latest[3] == (1, 7.0)
        assert latest[2] == (1, 1.0)
    finally:
        q.stop()


def test_tws_variant_gated_or_equivalent(spark, tmp_path):
    """The transformWithStateInPandas twin of the q134 kernel: without
    protobuf (this container) it must refuse LOUDLY at plan-build time
    — the raw failure is a confusing mid-query worker crash — and with
    protobuf present it must emit exactly what the
    applyInPandasWithState kernel emits."""
    import pytest as _pytest

    from batch_process_spark.streaming.stateful import (
        running_totals_cents_tws,
        tws_available,
        tws_conf,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    from datetime import datetime

    t = datetime(2024, 1, 1, 10, 0, 0)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, t, 1, 10.0), (2, t, 1, 5.5), (3, t, 2, 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    if not tws_available():
        with _pytest.raises(NotImplementedError, match="protobuf"):
            running_totals_cents_tws(stream)
        return

    saved = {k: spark.conf.get(k, None) for k in tws_conf()}
    for k, v in tws_conf().items():
        spark.conf.set(k, v)
    try:
        q = (
            running_totals_cents_tws(stream)
            .writeStream.format("memory")
            .queryName("tws_eq")
            .outputMode("update")
            .start()
        )
        try:
            drain_all(q)
        finally:
            q.stop()
        rows = sorted(
            (r["user_id"], r["n_events"], r["total_cents"])
            for r in spark.sql("SELECT * FROM tws_eq").collect()
        )
        assert rows == [(1, 2, 1550), (2, 1, 100)]
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_drive_raises_when_stream_dies_mid_run(spark, tmp_path):
    """A stream that DIES on a later micro-batch must surface its
    error from the shared drive loop (``windows.drive_query``), not
    hand back the previous batch's output as if it were the final
    answer — processAllAvailable() on a terminated query returns
    immediately, so without the q.exception() check the caller reads a
    stale PARTIAL result (the q196-at-load failure shape). Two inputs:
    a memory-sink aggregation whose executor raises on the fed batch,
    and a foreachBatch serving stream (the q172/q214 shape) whose
    scorer raises on it. Either way no query is left running."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    from batch_process_spark.streaming.similarity import stream_topk_serving
    from batch_process_spark.streaming.windows import drive_query, run_stream_to_memory

    schema = "v long"

    def slice_writer(src):
        def write_slice(rows):
            spark.createDataFrame([(r,) for r in rows], schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))

        return write_slice

    def memory_sink(src, write_slice):
        def transform(stream):
            # the poison rides INSIDE the aggregate (a bare asserted
            # column would be pruned away): a negative v raises on the
            # executor, so batch 0 is clean and the fed batch kills the
            # query
            poisoned = F.when(
                F.col("v") < 0, F.raise_error(F.lit("poison row")).cast("long")
            ).otherwise(F.col("v"))
            return stream.groupBy().agg(F.sum(poisoned).alias("n"))

        run_stream_to_memory(
            spark,
            str(src),
            schema,
            transform,
            query_name="dying_out",
            output_mode="complete",
            feeds=[lambda: write_slice([-1])],
        )

    def serving(src, write_slice):
        answered = []

        def scorer(corpus, batch_df, **_):
            if batch_df.filter(F.col("v") < 0).limit(1).count():
                raise ValueError("poison query")
            return batch_df

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = stream_topk_serving(
            stream, spark.range(1), lambda df, _: answered.extend(df.collect()),
            scorer=scorer,
        )
        drive_query(q, [lambda: write_slice([-1])])

    # Narrow raise set (NOT bare Exception — a fixture/setup error must
    # FAIL this test, not satisfy it) and the surfaced error must be
    # the poison, proving the killed query's exception propagated
    # rather than some unrelated failure.
    from pyspark.errors.exceptions.base import StreamingQueryException

    for run in (memory_sink, serving):
        src = tmp_path / f"dying_src_{run.__name__}"
        src.mkdir()
        write_slice = slice_writer(src)
        write_slice([1, 2, 3])
        with pytest.raises((StreamingQueryException, PySparkException, Py4JJavaError)) as exc:
            run(src, write_slice)
        assert "poison" in str(exc.value), (
            f"{run.__name__}: the stream's own failure must surface, not a "
            f"stale partial result or an unrelated error: {exc.value}"
        )
        assert spark.streams.active == [], f"{run.__name__}: query left running"
