"""Product quantization (operators/pq.py): closed-form fixtures where
codes, centroids, and ADC distances are known by construction,
independent of the DuckDB oracle (which q205/q206 pin separately)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from batch_process_spark.operators import joins, pq

# 4-dim vectors, subdim=2 -> m=2 subspaces. Two tight groups per
# subspace around (0,0) and (10,10): vectors 0/1 are the init seeds
# (k=2), vectors 2-5 sit near one seed per subspace.
_VECS = [
    (0, [0.0, 0.0, 10.0, 10.0]),
    (1, [10.0, 10.0, 0.0, 0.0]),
    (2, [0.5, 0.0, 10.0, 10.5]),  # sub0 -> cid 0, sub1 -> cid 0
    (3, [9.5, 10.0, 0.0, 0.5]),  # sub0 -> cid 1, sub1 -> cid 1
    (4, [0.0, 0.5, 0.5, 0.0]),  # sub0 -> cid 0, sub1 -> cid 1
    (5, [10.0, 9.5, 9.5, 10.0]),  # sub0 -> cid 1, sub1 -> cid 0
]


def _emb(spark, rows=_VECS):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    )


def test_encode_assigns_nearest_seed_per_subspace(spark):
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=0)  # codebook = raw seeds
    codes = {
        (r["vec_id"], r["sub"]): r["cid"]
        for r in pq.pq_encode(emb, cb, subdim=2).collect()
    }
    assert codes[(2, 0)] == 0 and codes[(2, 1)] == 0
    assert codes[(3, 0)] == 1 and codes[(3, 1)] == 1
    assert codes[(4, 0)] == 0 and codes[(4, 1)] == 1
    assert codes[(5, 0)] == 1 and codes[(5, 1)] == 0


def test_train_recomputes_centroid_as_member_mean(spark):
    """After one Lloyd round, sub0/cid0's centroid is the mean of its
    members' subvectors (vectors 0, 2, 4 -> x = (0+0.5+0)/3)."""
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1)
    c = {
        (r["sub"], r["cid"], r["spos"]): r["c"]
        for r in cb.collect()
    }
    assert abs(c[(0, 0, 0)] - (0.0 + 0.5 + 0.0) / 3) < 1e-12
    assert abs(c[(0, 0, 1)] - (0.0 + 0.0 + 0.5) / 3) < 1e-12


def test_adc_exact_when_vector_is_centroid(spark):
    """A vector sitting exactly ON its centroids has ADC(q, x) equal to
    the exact squared distance ||q - x||^2 for every query (the
    quantization error term vanishes)."""
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=0)
    codes = pq.pq_encode(emb, cb, subdim=2)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    adc = {
        (r["query_id"], r["vec_id"]): r["adc"]
        for r in pq.pq_adc_scores(queries, cb, codes, subdim=2).collect()
    }
    vecs = dict(_VECS)
    for qid in vecs:
        for xid in (0, 1):  # the seeds ARE their centroids under iters=0
            exact = sum((a - b) ** 2 for a, b in zip(vecs[qid], vecs[xid]))
            assert abs(adc[(qid, xid)] - exact) < 1e-9, (qid, xid)


def test_adc_topk_matches_exact_on_separated_clusters(spark):
    """For queries whose subvectors all live in one cluster per
    subspace (0-3), ADC's nearest neighbor agrees with the exact
    nearest neighbor. Vectors 4/5 mix clusters ACROSS subspaces —
    exactly where PQ's per-subspace independence approximation loses
    metric fidelity — so they are asserted separately below (they
    must still retrieve a same-code vector first)."""
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1)
    codes = pq.pq_encode(emb, cb, subdim=2)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    adc = pq.pq_adc_scores(queries, cb, codes, subdim=2)
    # nearest OTHER vector by ADC
    near = {
        r["query_id"]: r["vec_id"]
        for r in adc.filter("query_id != vec_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("adc", "vec_id")
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    vecs = dict(_VECS)
    for qid in (0, 1, 2, 3):
        qv = vecs[qid]
        exact = min(
            ((sum((a - b) ** 2 for a, b in zip(qv, xv)), xid)
             for xid, xv in vecs.items() if xid != qid),
        )[1]
        assert near[qid] == exact, qid
    # mixed-subspace queries: ADC collapses a vector onto its per-sub
    # centroids, so the nearest neighbor is the one SHARING its codes
    # (4 shares (0,1) with nothing else here -> nearest centroid-mates
    # are the pure-cluster vectors; assert the retrieved one at least
    # shares a code with the query's assignment)
    codes_map = {
        (r["vec_id"], r["sub"]): r["cid"] for r in codes.collect()
    }
    for qid in (4, 5):
        got = near[qid]
        assert any(
            codes_map[(qid, s)] == codes_map[(got, s)] for s in (0, 1)
        ), (qid, got)


def test_adc_scorer_drops_into_serving_loop(spark, tmp_path):
    """make_adc_scorer plugs into stream_topk_serving (the q172
    serving contract) and, with rerank_factor * k covering the corpus,
    answers every micro-batch exactly like the brute-force scorer."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from batch_process_spark.operators.similarity import brute_force_topk
    from batch_process_spark.streaming.similarity import (
        bounded_collect_sink,
        stream_topk_serving,
    )
    from batch_process_spark.streaming.windows import drain_all

    emb = _emb(spark).persist()
    emb.count()
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1).persist()
    codes = pq.pq_encode_fused(emb, cb, subdim=2).persist()
    codes.count()
    scorer = pq.make_adc_scorer(cb, codes, subdim=2, rerank_factor=3)  # 3*2=6 = |corpus|

    src = tmp_path / "adcq"
    src.mkdir()
    vecs = dict(_VECS)

    def write_q(ids):
        tbl = pa.table(
            {
                "query_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in vecs[i]] for i in ids],
                    pa.list_(pa.float32()),
                ),
            }
        )
        papq.write_table(tbl, str(src / f"q{ids[0]}.parquet"))

    sink, collected = bounded_collect_sink()
    write_q([0, 3])
    stream = spark.readStream.schema(
        "query_id long, embedding array<float>"
    ).parquet(str(src))
    q = stream_topk_serving(stream, emb, sink, k=2, scorer=scorer)
    try:
        drain_all(q)
        write_q([5])
        drain_all(q)
        assert q.exception() is None
    finally:
        q.stop()

    queries = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in (0, 3, 5)],
        "query_id long, embedding array<float>",
    )
    want = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in brute_force_topk(emb, queries, k=2).collect()
    }
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in collected}
    assert got == want
    emb.unpersist(); cb.unpersist(); codes.unpersist()


def test_fused_encode_matches_join_encode(spark):
    """The Arrow production kernel assigns the identical codes as the
    oracle-replicable join formulation (incl. the lowest-cid
    tie-break, via cid-sorted centroid ordering)."""
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1)
    join_codes = {
        (r["vec_id"], r["sub"]): r["cid"]
        for r in pq.pq_encode(emb, cb, subdim=2).collect()
    }
    fused = {
        r["vec_id"]: list(r["codes"])
        for r in pq.pq_encode_fused(emb, cb, subdim=2).collect()
    }
    assert set(fused) == {i for i, _ in _VECS}
    for vid, codes in fused.items():
        assert codes == [join_codes[(vid, s)] for s in range(len(codes))], vid


def test_fused_train_matches_join_train(spark):
    """pq_train(fused=True) produces the same codebook as the join
    formulation (same assignments -> same member means)."""
    emb = _emb(spark)
    a = {
        (r["sub"], r["cid"], r["spos"]): r["c"]
        for r in pq.pq_train(emb, subdim=2, k=2, iters=2).collect()
    }
    b = {
        (r["sub"], r["cid"], r["spos"]): r["c"]
        for r in pq.pq_train(emb, subdim=2, k=2, iters=2, fused=True).collect()
    }
    assert set(a) == set(b)
    assert all(abs(a[k_] - b[k_]) < 1e-12 for k_ in a)


def test_fused_adc_topk_matches_join_adc(spark):
    """Fused ADC top-k returns the same (query, vec, distance) rows as
    ranking the join-formulation ADC scores."""
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    join_adc = {
        (r["query_id"], r["vec_id"]): r["adc"]
        for r in pq.pq_adc_scores(
            queries, cb, pq.pq_encode(emb, cb, subdim=2), subdim=2
        ).collect()
    }
    fused_rows = pq.pq_adc_topk_fused(
        pq.pq_encode_fused(emb, cb, subdim=2), queries, cb, subdim=2, k=3
    ).collect()
    per_q: dict = {}
    for r in fused_rows:
        per_q.setdefault(r["query_id"], []).append((r["vec_id"], r["adc"]))
    for qid, got in per_q.items():
        want = sorted(
            ((v, d) for (q, v), d in join_adc.items() if q == qid),
            key=lambda t: (t[1], t[0]),
        )[:3]
        got = sorted(got, key=lambda t: (t[1], t[0]))
        assert [v for v, _ in got] == [v for v, _ in want], qid
        for (gv, gd), (wv, wd) in zip(got, want):
            assert abs(gd - wd) < 1e-9, (qid, gv)


def test_empty_cluster_disappears_deterministically(spark):
    """If a seed captures no members after reassignment, its cid drops
    from the recomputed codebook (never a NaN centroid)."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.2, 0.0]),  # seed 1 sits inside seed 0's cluster
        (2, [0.1, 0.0]),
        (3, [0.1, 0.1]),
    ]
    emb = _emb(spark, rows)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1)
    cids = {r["cid"] for r in cb.collect()}
    # all points are nearer seed 0 or seed 1 deterministically; the
    # codebook holds only surviving clusters and no NULL/NaN rows
    assert cids <= {0, 1} and len(cids) >= 1
    assert cb.filter(F.col("c").isNull() | F.isnan("c")).count() == 0


def test_ivfpq_topk_matches_brute_force_when_all_cells_probed(spark):
    """With nprobe covering every cell and rerank covering the corpus,
    IVFPQ returns exactly the brute-force answer (pruning lossless,
    ADC candidates superset, rerank exact); with nprobe=1 every
    returned neighbor sits in the query's own probed cell."""
    from batch_process_spark.operators.similarity import brute_force_topk

    emb = _emb(spark).persist()
    emb.count()
    assigned_codes, cents, cb = pq.ivfpq_index(
        emb, subdim=2, k_code=2, n_centroids=2
    )
    assigned_codes = assigned_codes.persist()
    assigned_codes.count()
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")

    got = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in pq.ivfpq_topk(
            assigned_codes, cents, cb, queries, subdim=2, corpus=emb,
            k=2, rerank_factor=3, nprobe=2,  # both cells, R=6=|corpus|
        ).collect()
    }
    want = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in brute_force_topk(emb, queries, k=2).collect()
    }
    assert got == want

    # nprobe=1: every answer lies in the query's PROBED cell (the
    # pruning guarantee — which cell that is belongs to ivf_probe_sets)
    from batch_process_spark.operators.similarity import ivf_probe_sets

    cell_of = {
        r["vec_id"]: r["centroid_id"] for r in assigned_codes.collect()
    }
    probed = {}
    for r in ivf_probe_sets(cents, queries, k=2, nprobe=1).collect():
        probed.setdefault(r["query_id"], set()).add(r["centroid_id"])
    rows1 = pq.ivfpq_topk(
        assigned_codes, cents, cb, queries, subdim=2, corpus=emb,
        k=2, rerank_factor=3, nprobe=1,
    ).collect()
    assert rows1  # non-vacuous
    for r in rows1:
        assert cell_of[r["vec_id"]] in probed[r["query_id"]], r
    emb.unpersist(); assigned_codes.unpersist()


def test_ivfpq_scorer_matches_brute_force_batchwise(spark):
    """make_ivfpq_scorer has the serving-scorer contract and, with all
    cells probed + corpus-covering rerank, equals brute force on a
    plain batch call (the streaming plumbing itself is pinned by the
    ADC-scorer serving test)."""
    from batch_process_spark.operators.similarity import brute_force_topk

    emb = _emb(spark).persist()
    emb.count()
    assigned_codes, cents, cb = pq.ivfpq_index(
        emb, subdim=2, k_code=2, n_centroids=2
    )
    scorer = pq.make_ivfpq_scorer(
        assigned_codes, cents, cb, subdim=2, rerank_factor=3, nprobe=2
    )
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    got = {tuple(r) for r in scorer(emb, queries, k=2).collect()}
    want = {tuple(r) for r in brute_force_topk(emb, queries, k=2).collect()}
    assert got == want
    emb.unpersist()


def test_pq_parity_property(spark):
    """Property: on random corpora (random dims, k, values — including
    degenerate all-equal subvectors and empty-cluster survivals), the
    fused Arrow kernels agree exactly with the join formulation on
    codes, and the fused ADC top-k agrees on the candidate sets."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(
        data=st.data(),
        n=st.integers(4, 12),
        m=st.integers(1, 3),
        subdim=st.integers(1, 3),
        k=st.integers(2, 4),
    )
    # derandomized: the two argmin formulations (|x-c|^2 vs |c|^2-2xc)
    # agree on every tested example, but an adversarial near-tie could
    # in principle round differently — pin the example set so the suite
    # can't flake on a lucky draw (the parity CLAIM is for real data,
    # where exact near-ties are measure-zero)
    @settings(
        max_examples=8, deadline=None, derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    def prop(data, n, m, subdim, k):
        dim = m * subdim
        vals = data.draw(
            st.lists(
                st.lists(
                    st.floats(-8, 8, allow_nan=False, width=32),
                    min_size=dim, max_size=dim,
                ),
                min_size=n, max_size=n,
            )
        )
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v], 0) for i, v in enumerate(vals)],
            "vec_id long, embedding array<float>, label int",
        )
        cb = pq.pq_train(emb, subdim=subdim, k=k, iters=1)
        join_codes = {
            (r["vec_id"], r["sub"]): r["cid"]
            for r in pq.pq_encode(emb, cb, subdim=subdim).collect()
        }
        fused = {
            r["vec_id"]: list(r["codes"])
            for r in pq.pq_encode_fused(emb, cb, subdim=subdim).collect()
        }
        for vid, codes in fused.items():
            assert codes == [join_codes[(vid, s)] for s in range(m)], (vid, codes)
        # ADC candidate parity on one query
        queries = emb.filter("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        join_adc = {
            r["vec_id"]: r["adc"]
            for r in pq.pq_adc_scores(
                queries, cb, pq.pq_encode(emb, cb, subdim=subdim), subdim=subdim
            ).collect()
        }
        got = {
            r["vec_id"]: r["adc"]
            for r in pq.pq_adc_topk_fused(
                pq.pq_encode_fused(emb, cb, subdim=subdim),
                queries, cb, subdim=subdim, k=n,
            ).collect()
        }
        assert set(got) == set(join_adc)
        for vid in got:
            assert abs(got[vid] - join_adc[vid]) < 1e-9, vid

    prop()


def test_adc_query_collect_guard_trips(spark, monkeypatch):
    """pq_adc_topk_fused collects the queries frame to the driver; a
    queries frame past MAX_PQ_QUERIES must raise the designed error
    (not silently OOM). Cap shrunk via monkeypatch so the test stays
    tiny; the limit(n+1) rides the collect itself."""
    import pytest

    monkeypatch.setattr(pq, "MAX_PQ_QUERIES", 3)
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=0)
    codes = pq.pq_encode_fused(emb, cb, subdim=2)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")  # 6 > 3
    with pytest.raises(ValueError, match="pq_adc_topk_fused.*query rows"):
        pq.pq_adc_topk_fused(codes, queries, cb, subdim=2, k=2).collect()
    # at-or-under the cap still works
    ok = pq.pq_adc_topk_fused(codes, queries.limit(3), cb, subdim=2, k=1)
    assert ok.count() == 3


def test_ivfpq_probe_collect_guard_trips(spark, monkeypatch):
    """ivfpq_topk's probe-set collect is bounded by MAX_PQ_QUERIES x
    n_cells; an oversized queries frame raises instead of pulling a
    corpus-sized probe set onto the driver."""
    import pytest

    monkeypatch.setattr(pq, "MAX_PQ_QUERIES", 1)
    emb = _emb(spark)
    assigned_codes, cents, cb = pq.ivfpq_index(
        emb, subdim=2, k_code=2, n_centroids=2
    )
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="ivfpq_topk.*probe set"):
        pq.ivfpq_topk(
            assigned_codes, cents, cb, queries, subdim=2, corpus=emb,
            k=2, rerank_factor=3, nprobe=2,
        ).collect()


def test_ivfpq_write_read_roundtrip_serves_identically(spark, tmp_path):
    """The full stored-index serving story: ivfpq_write persists codes
    (partitioned), centroids, stats, and the PQ CODEBOOK; ivfpq_read
    restores all five pieces; a scorer built purely from disk returns
    the exact same answers as one built from the in-memory index —
    a serving process restart needs no float rescan and no retrain."""
    from batch_process_spark.operators.similarity import ivf_index_stats

    emb = _emb(spark).persist()
    emb.count()
    assigned_codes, cents, cb = pq.ivfpq_index(emb, subdim=2, k_code=2, n_centroids=2)
    float_assigned = emb.join(assigned_codes.select("vec_id", "centroid_id"), "vec_id")
    stats = ivf_index_stats(float_assigned, cents)
    path = str(tmp_path / "ivfpq_idx")
    pq.ivfpq_write(assigned_codes, path, cents, cb, subdim=2, stats=stats)

    codes2, cents2, cb2, subdim2, stats2 = pq.ivfpq_read(spark, path)
    assert subdim2 == 2
    assert cents2 == [[float(x) for x in c] for c in cents]
    assert stats2["cell_sizes"] == stats["cell_sizes"]  # int keys restored
    assert sorted(map(tuple, cb2.collect())) == sorted(
        (int(r["sub"]), int(r["cid"]), int(r["spos"]), float(r["c"]))
        for r in cb.collect()
    )

    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding").limit(3)
    mem = {
        tuple(r)
        for r in pq.ivfpq_topk(
            assigned_codes, cents, cb, queries, subdim=2, corpus=emb,
            k=2, rerank_factor=3, nprobe=2,
        ).collect()
    }
    disk = {
        tuple(r)
        for r in pq.ivfpq_topk(
            codes2, cents2, cb2, queries, subdim=2, corpus=emb,
            k=2, rerank_factor=3, nprobe="auto", stats=stats2,
        ).collect()
    }
    # nprobe=2 covers both cells; auto on this tiny two-blob index
    # probes within its mass budget — with full rerank both are exact
    assert mem == disk

    # a plain ivf_write index refuses ivfpq_read with the designed error
    import pytest

    from batch_process_spark.operators.similarity import ivf_write

    path2 = str(tmp_path / "plain")
    ivf_write(float_assigned, path2, centroids=cents, stats=stats)
    with pytest.raises(ValueError, match="no PQ metadata"):
        pq.ivfpq_read(spark, path2)
    # ... and a codes index refuses ivf_read_index, naming ivfpq_read
    from batch_process_spark.operators.similarity import ivf_read_index

    with pytest.raises(ValueError, match="IVFPQ codes index.*ivfpq_read"):
        ivf_read_index(spark, path)
    emb.unpersist()


def test_exact_rerank_broadcasts_candidates(spark):
    """BASELINE §5u serving finding: the bounded candidate frame's Catalyst
    size estimate derives from the corpus-sized codes frame, so past
    the auto-broadcast threshold the rerank join silently flipped to a
    sort-merge shuffling the float corpus (1.6 MB -> 525 MB per batch
    between 262k and 1M vectors). _exact_rerank now broadcasts cand
    explicitly; the corpus join must stay a BroadcastHashJoin even
    with auto-broadcast OFF (the cluster shape where estimates
    misfire)."""
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1)
    codes = pq.pq_encode_fused(emb, cb, subdim=2)
    scorer = pq.make_adc_scorer(cb, codes, subdim=2, rerank_factor=3)
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<float>"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = scorer(emb.select("vec_id", "embedding"), queries, k=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2  # cand + queries sides
        assert out.count() == 2  # still answers
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_exact_rerank_degenerate_batch_shuffles_instead_of_erroring(
    spark, monkeypatch
):
    """VERDICT r13 item 4: a degenerate serving batch (|Q| x rerank
    depth past the broadcast cap) must fall back to a shuffled-hash
    join keyed on vec_id — same rows, no broadcast-cap hard error.
    The cap is forced to 1 byte so the bound gate trips at any size;
    the result must match the normal broadcast-path answer exactly."""
    emb = _emb(spark)
    cb = pq.pq_train(emb, subdim=2, k=2, iters=1)
    codes = pq.pq_encode_fused(emb, cb, subdim=2)
    scorer = pq.make_adc_scorer(cb, codes, subdim=2, rerank_factor=3)
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<float>"
    )
    want = sorted(
        tuple(r) for r in scorer(emb.select("vec_id", "embedding"), queries, k=2).collect()
    )

    monkeypatch.setattr(joins, "BROADCAST_CAP_BYTES", 1)
    out = scorer(emb.select("vec_id", "embedding"), queries, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cand-side corpus join is shuffled now; only the tiny query
    # frame still rides a broadcast
    assert "ShuffledHashJoin" in plan
    assert sorted(tuple(r) for r in out.collect()) == want
