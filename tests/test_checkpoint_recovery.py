"""Kill-and-restart-from-checkpoint recovery.

Two guarantees a production stream lives on, proved by actually
stopping a query and restarting a NEW one from the same checkpoint:

- the CDC upsert sink (`streaming/cdc.py`) never re-applies a batch the
  checkpoint already committed (exactly-once upsert across restart);
- `applyInPandasWithState` running totals (the q134 operator) restore
  their per-key state from the state store and CONTINUE accumulating
  instead of resetting to zero.
"""

from pyspark.sql import functions as F

import batch_process_spark.streaming.cdc as cdc
from batch_process_spark.streaming.stateful import running_totals_cents_stream

from batch_process_spark.streaming.windows import drain_all


def test_cdc_upsert_exactly_once_across_restart(spark, tmp_path, monkeypatch):
    """Stop the query (the controlled stand-in for a crash after
    checkpoint commit), add new source files, restart a NEW query from
    the SAME checkpoint: only the new files may reach the sink, and the
    target reflects all changes exactly once."""
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string"

    applied = []  # every batch the sink actually applied, across runs
    real_upsert = cdc.upsert_batch

    def recording_upsert(df, target_dir, keys, order_col=None):
        applied.append(sorted(tuple(r) for r in df.collect()))
        real_upsert(df, target_dir, keys, order_col=order_col)

    monkeypatch.setattr(cdc, "upsert_batch", recording_upsert)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = cdc.stream_upsert_to_parquet(stream, target, ["k"], checkpoint_dir=ckpt)
        try:
            drain_all(q)
        finally:
            q.stop()

    spark.createDataFrame([(1, "a")], schema).coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert spark.read.parquet(target).collect()[0]["v"] == "a"

    spark.createDataFrame([(1, "b"), (2, "c")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    rows = sorted((r["k"], r["v"]) for r in spark.read.parquet(target).collect())
    assert rows == [(1, "b"), (2, "c")]
    # exactly-once: the run-1 row was applied in run 1 and NEVER again —
    # a restart that replayed it would regress key 1 to "a"
    flat = [row for batch in applied for row in batch]
    assert flat.count((1, "a")) == 1
    assert flat.count((1, "b")) == 1


def test_stateful_totals_restore_state_across_restart(spark, tmp_path):
    """q134's operator under kill-and-restart: run 2 starts a brand-new
    query object on the same checkpoint and must emit totals that
    CONTINUE from run 1's state store — equal to the batch ground truth
    over ALL events — even though run 2's source batches contain only
    the new events."""
    src = tmp_path / "events_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, user_id long, value double"
    from datetime import datetime

    t = datetime(2024, 1, 1, 10, 0, 0)

    def write_events(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    def run_once():
        # memory sink refuses checkpoint recovery; foreachBatch is the
        # recovery-capable sink (same as the CDC path), collecting each
        # batch's emissions driver-side
        emitted = []
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            running_totals_cents_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _id: emitted.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            drain_all(q)
        finally:
            q.stop()
        return {
            r["user_id"]: (r["n_events"], r["total_cents"]) for r in emitted
        }

    write_events([(1, t, 1, 10.0), (2, t, 1, 5.5), (3, t, 2, 1.0)])
    first = run_once()
    assert first[1] == (2, 1550) and first[2] == (1, 100)

    # "crash", then new events arrive while the stream is down
    write_events([(4, t, 1, 2.5), (5, t, 3, 7.0)])
    second = run_once()
    # state restored: user 1 continues from (2, 1550), not from zero
    assert second[1] == (3, 1800)
    assert second[3] == (1, 700)
    # user 2 had no new events -> no new emission in run 2's sink table
    assert 2 not in second


def test_stream_interval_outer_join_recovers_across_restart(spark, tmp_path):
    """q100/q153's stream-stream interval join under kill-and-restart:
    a NEW query on the SAME checkpoint must (a) never re-emit a pair a
    committed batch already produced, and (b) still emit the left-outer
    NULL row for an impression whose match window expired — even though
    the impression arrived BEFORE the restart and the watermark passed
    its horizon only AFTER. State (both join sides + watermark) lives
    in the checkpoint, not the query object."""
    from batch_process_spark.streaming.joins import stream_interval_join

    ldir, rdir = str(tmp_path / "left"), str(tmp_path / "right")
    ckpt = str(tmp_path / "ckpt")
    lschema, rschema = "k string, lts timestamp", "k string, rts timestamp"
    from datetime import datetime

    def t(m, s=0):
        return datetime(2024, 1, 1, 10, m, s)

    def write(d, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    emitted = []  # (k, lts, rts) across BOTH runs, every applied batch

    def run_once(feeds=()):
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        l = spark.readStream.schema(lschema).parquet(ldir)
        r = spark.readStream.schema(rschema).parquet(rdir)
        out = stream_interval_join(
            l, r, "k", "lts", "rts",
            max_delay="1 minute", watermark="10 seconds", how="left_outer",
        ).select(F.col("l.k").alias("k"), "lts", "rts")
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: emitted.extend(
                    (row["k"], row["lts"], row["rts"]) for row in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            drain_all(q)
            for feed in feeds:
                feed()
                drain_all(q)
        finally:
            q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", saved)

    # run 1: A matches, B's window is still open at shutdown
    write(ldir, lschema, [("A", t(0, 0)), ("B", t(0, 5))])
    write(rdir, rschema, [("A", t(0, 30))])
    run_once()
    assert (("A", t(0, 0), t(0, 30))) in emitted
    assert not any(k == "B" for k, _, _ in emitted)  # window open, no emission

    # "crash"; while down, a new matching pair arrives
    write(ldir, lschema, [("C", t(5, 0))])
    write(rdir, rschema, [("C", t(5, 20))])

    # run 2: drain the new files, then push the watermark far past B's
    # horizon (10:00:05 + 1m) with late traffic on BOTH sides (global
    # watermark is the min across sides), draining after each feed so
    # the outer emission flushes.
    def push1():
        write(ldir, lschema, [("Z1", t(20, 0))])
        write(rdir, rschema, [("Z2", t(20, 0))])

    def push2():
        write(ldir, lschema, [("Z3", t(21, 0))])
        write(rdir, rschema, [("Z4", t(21, 0))])

    run_once(feeds=[push1, push2])

    pairs = [(k, rts is not None) for k, _, rts in emitted]
    # exactly-once across restart: the committed A pair never replays
    assert pairs.count(("A", True)) == 1
    # the pair that arrived while the stream was down joins once
    assert pairs.count(("C", True)) == 1
    # the outer emission is NOT lost: B's NULL row appears exactly once
    assert pairs.count(("B", False)) == 1
    assert ("B", t(0, 5), None) in emitted
    # and nothing else snuck out as a spurious match
    assert not any(k == "A" and rts is None for k, _, rts in emitted)
    assert not any(k == "C" and rts is None for k, _, rts in emitted)


def test_foreachbatch_serving_exactly_once_across_restart(spark, tmp_path):
    """The q172 serving shape under kill-and-restart: with a checkpoint,
    a NEW query on the same location must not re-answer queries a
    committed batch already served — each arriving query vector gets
    exactly ONE top-k answer across the crash."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from batch_process_spark.streaming.similarity import stream_topk_serving

    src = tmp_path / "queries"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<float>"
    ).persist()
    corpus.count()

    def write_q(ids):
        tbl = pa.table(
            {
                "query_id": pa.array(ids, pa.int64()),
                "embedding": pa.array([[float(i), 1.0] for i in ids], pa.list_(pa.float32())),
            }
        )
        pq.write_table(tbl, str(src / f"q{ids[0]}.parquet"))

    answered = []  # (query_id, rank-1 neighbor) across BOTH runs

    def sink(df, _bid):
        answered.extend(
            (r["query_id"], r["vec_id"]) for r in df.filter("rank = 1").collect()
        )

    def run_once():
        stream = spark.readStream.schema(
            "query_id long, embedding array<float>"
        ).parquet(str(src))
        q = stream_topk_serving(stream, corpus, sink, k=3, checkpoint_dir=ckpt)
        try:
            drain_all(q)
        finally:
            q.stop()

    write_q([100, 101])
    run_once()
    assert sorted(q_ for q_, _ in answered) == [100, 101]

    # crash; new queries arrive while down; restart from the checkpoint
    write_q([102])
    run_once()
    qids = sorted(q_ for q_, _ in answered)
    assert qids == [100, 101, 102]  # 102 answered once, 100/101 NOT re-answered
    # and the answers are right: by COSINE every near-x-axis query
    # vector [q, 1] is closest in angle to the most-aligned corpus
    # vector, [19, 1]
    top = dict(answered)
    assert top == {100: 19, 101: 19, 102: 19}
    corpus.unpersist()


def test_bounded_collect_sink_three_batches_and_guard(spark, tmp_path):
    """The promoted serving-sink contract (streaming/similarity.py::
    bounded_collect_sink): three micro-batches of query vectors drain
    through the guarded sink, answers accumulate exactly once per
    query; a bound smaller than one batch's k x Q answer set trips the
    guard loudly instead of collecting unbounded rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from batch_process_spark.streaming.similarity import (
        bounded_collect_sink,
        stream_topk_serving,
    )

    src = tmp_path / "q3b"
    src.mkdir()
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id long, embedding array<float>"
    ).persist()
    corpus.count()

    def write_q(ids):
        tbl = pa.table(
            {
                "query_id": pa.array(ids, pa.int64()),
                "embedding": pa.array([[float(i), 1.0] for i in ids], pa.list_(pa.float32())),
            }
        )
        pq.write_table(tbl, str(src / f"q{ids[0]}.parquet"))

    sink, collected = bounded_collect_sink(max_rows_per_batch=2 * 3)
    write_q([0, 1])
    stream = spark.readStream.schema("query_id long, embedding array<float>").parquet(str(src))
    q = stream_topk_serving(stream, corpus, sink, k=3)
    try:
        drain_all(q)
        write_q([2, 3])
        drain_all(q)
        write_q([4])
        drain_all(q)
        assert q.exception() is None
    finally:
        q.stop()
    per_query = {}
    for r in collected:
        per_query.setdefault(r["query_id"], []).append(r)
    assert sorted(per_query) == [0, 1, 2, 3, 4]  # 3 batches, every query once
    assert all(len(v) == 3 for v in per_query.values())  # k answers each

    # guard: a batch of 2 queries x k=3 = 6 rows > bound 5 -> loud error
    sink2, _ = bounded_collect_sink(max_rows_per_batch=5)
    import pytest as _pytest

    src2 = tmp_path / "qguard"
    src2.mkdir()
    tbl = pa.table(
        {
            "query_id": pa.array([7, 8], pa.int64()),
            "embedding": pa.array([[7.0, 1.0], [8.0, 1.0]], pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, str(src2 / "q.parquet"))
    stream2 = spark.readStream.schema("query_id long, embedding array<float>").parquet(str(src2))
    q2 = stream_topk_serving(stream2, corpus, sink2, k=3)
    try:
        with _pytest.raises(Exception, match="bounded_collect_sink"):
            drain_all(q2)
            err = q2.exception()
            if err is not None:
                raise err
    finally:
        q2.stop()


def test_stream_serving_with_ivf_scorer(spark, tmp_path):
    """The serving loop's pluggable scorer contract: an IVF-backed
    scorer (the 100 TB path — per-batch cost is probed buckets, not the
    corpus) drops into stream_topk_serving via a closure with the same
    (corpus, queries, **kw) signature, and the per-batch answers match
    the exact brute-force scorer on a well-separated corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from batch_process_spark.operators.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_index_stats,
        ivf_topk,
    )
    from batch_process_spark.streaming.similarity import (
        bounded_collect_sink,
        stream_topk_serving,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float(i // 7), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).persist()
    corpus.count()
    assigned, cents = ivf_index(corpus, n_centroids=2)
    assigned = assigned.persist()
    stats = ivf_index_stats(assigned, cents)

    def ivf_scorer(_corpus, batch, **kw):
        # nprobe="auto" probes both cells here (2 cells, tiny corpus),
        # so the answers are exact — the equivalence this test pins
        return ivf_topk(assigned, cents, batch, nprobe="auto", stats=stats, **kw)

    src = tmp_path / "ivfq"
    src.mkdir()

    def write_q(ids):
        tbl = pa.table(
            {
                "query_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(i % 7), float(i // 7), 1.0] for i in ids], pa.list_(pa.float64())
                ),
            }
        )
        pq.write_table(tbl, str(src / f"q{ids[0]}.parquet"))

    sink, collected = bounded_collect_sink()
    write_q([3, 11])
    stream = spark.readStream.schema("query_id long, embedding array<double>").parquet(str(src))
    q = stream_topk_serving(stream, corpus, sink, k=3, scorer=ivf_scorer)
    try:
        drain_all(q)
        write_q([25])
        drain_all(q)
        assert q.exception() is None
    finally:
        q.stop()

    queries = spark.createDataFrame(
        [(i, [float(i % 7), float(i // 7), 1.0]) for i in (3, 11, 25)],
        "query_id long, embedding array<double>",
    )
    exact = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in brute_force_topk(corpus, queries, k=3).collect()
    }
    got = {(r["query_id"], r["rank"], r["vec_id"]) for r in collected}
    assert got == exact


def test_stored_index_serving_sees_mutations_between_batches(spark, tmp_path):
    """The serving lifecycle end-to-end: a stream served off a STORED
    index (make_stored_ivf_scorer re-reads per batch) answers batch 1
    from the initial index; then the index mutates UNDER the running
    recipe — ivf_append a new nearest neighbor, ivf_delete an old one —
    and batch 2's answers reflect both, with no stream restart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import numpy as np

    from batch_process_spark.operators.similarity import (
        ivf_append,
        ivf_delete,
        ivf_index,
        make_stored_ivf_scorer,
        ivf_write,
    )
    from batch_process_spark.streaming.similarity import stream_topk_serving
    from batch_process_spark.streaming.windows import drain_all

    rng = np.random.default_rng(61)
    vecs = np.vstack([
        rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
        rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
    ])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    assigned, cents = ivf_index(corpus, n_centroids=2)
    path = str(tmp_path / "serving_idx")
    ivf_write(assigned, path, centroids=cents)

    src = tmp_path / "queries"
    src.mkdir()
    probe = [5.0, 0.05, 0.0, 0.0]

    def write_q(qid):
        pq.write_table(
            pa.table({
                "query_id": pa.array([qid], pa.int64()),
                "embedding": pa.array([probe], pa.list_(pa.float64())),
            }),
            str(src / f"q{qid}.parquet"),
        )

    answers = {}

    def sink(df, _bid):
        for r in df.collect():
            answers.setdefault(r["query_id"], set()).add(r["vec_id"])

    stream = spark.readStream.schema(
        "query_id long, embedding array<double>"
    ).parquet(str(src))
    q = stream_topk_serving(
        stream, corpus, sink, k=3,
        scorer=make_stored_ivf_scorer(spark, path, nprobe=1),
    )
    try:
        write_q(1)
        drain_all(q)
        batch1 = set(answers[1])
        assert batch1 and 9000 not in batch1

        # mutate the index while the stream keeps running: the exact
        # probe vector arrives (id 9000), and one of batch 1's answers
        # is taken down
        ivf_append(spark, path, spark.createDataFrame(
            [(9000, probe)], "vec_id long, embedding array<double>"
        ))
        takedown = min(batch1)
        ivf_delete(spark, path, [takedown])

        write_q(2)
        drain_all(q)
        batch2 = set(answers[2])
        assert 9000 in batch2        # the appended vector is served
        assert takedown not in batch2  # the deleted one never is
    finally:
        q.stop()


def test_stored_ivfpq_serving_sees_mutations_between_batches(spark, tmp_path):
    """PQ twin of the stored-index serving lifecycle: batch 1 serves
    off the initial codes index; ivf_append + ivf_delete mutate it
    under the running stream; batch 2 serves the appended id and never
    the deleted one."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    import numpy as np

    from batch_process_spark.operators import pq
    from batch_process_spark.operators.similarity import (
        ivf_append,
        ivf_delete,
        ivf_index_stats,
    )
    from batch_process_spark.streaming.similarity import stream_topk_serving
    from batch_process_spark.streaming.windows import drain_all

    rng = np.random.default_rng(62)
    vecs = np.vstack([
        rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
        rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
    ])
    probe = [5.0, 0.05, 0.0, 0.0]
    corpus_path = str(tmp_path / "float_corpus")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        + [(9000, probe)],  # float source of truth already holds the late vector
        "vec_id long, embedding array<double>",
    ).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    built = corpus.filter("vec_id < 9000")
    assigned_codes, cents, cb = pq.ivfpq_index(built, subdim=2, k_code=4, n_centroids=2)
    float_assigned = built.join(assigned_codes.select("vec_id", "centroid_id"), "vec_id")
    stats = ivf_index_stats(float_assigned, cents)
    path = str(tmp_path / "serving_pq")
    pq.ivfpq_write(assigned_codes, path, cents, cb, subdim=2, stats=stats)

    src = tmp_path / "pq_queries"
    src.mkdir()

    def write_q(qid):
        pq_.write_table(
            pa.table({
                "query_id": pa.array([qid], pa.int64()),
                "embedding": pa.array([probe], pa.list_(pa.float64())),
            }),
            str(src / f"q{qid}.parquet"),
        )

    answers = {}

    def sink(df, _bid):
        for r in df.collect():
            answers.setdefault(r["query_id"], set()).add(r["vec_id"])

    stream = spark.readStream.schema(
        "query_id long, embedding array<double>"
    ).parquet(str(src))
    q = stream_topk_serving(
        stream, corpus, sink, k=3,
        scorer=pq.make_stored_ivfpq_scorer(spark, path, nprobe=1),
    )
    try:
        write_q(1)
        drain_all(q)
        batch1 = set(answers[1])
        assert batch1 and 9000 not in batch1

        ivf_append(spark, path, spark.createDataFrame(
            [(9000, probe)], "vec_id long, embedding array<double>"
        ))
        takedown = min(batch1)
        ivf_delete(spark, path, [takedown])

        write_q(2)
        drain_all(q)
        batch2 = set(answers[2])
        assert 9000 in batch2
        assert takedown not in batch2
    finally:
        q.stop()
