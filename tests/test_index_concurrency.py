"""Concurrent-writer detection + crash-window recovery for the stored
IVF/IVFPQ index lifecycle (similarity.write_index_meta CAS contract),
and the sampled-retrain path of ivf_recluster.

The single-writer contract used to be documentation-only; these tests
pin that it is now ENFORCED: every lifecycle op passes the version it
read at start, and the meta write compares-and-swaps against the stored
version at commit — a racing writer trips ConcurrentIndexMutation
instead of silently losing an update.
"""

import copy
import os

import numpy as np
import pytest

from batch_process_spark.operators import similarity
from batch_process_spark.operators.similarity import (
    ConcurrentIndexMutation,
    ivf_append,
    ivf_assign,
    ivf_delete,
    ivf_index,
    ivf_read_index,
    ivf_recluster,
    ivf_write,
    kmeans_centroids,
    read_index_meta,
    write_index_meta,
)


def _two_blob_corpus(spark, n_per=20, seed=11):
    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.normal((5.0, 0, 0, 0), 0.3)])
        for i in range(n_per)
    ] + [
        (100 + i, [float(x) for x in rng.normal((-5.0, 0, 0, 0), 0.3)])
        for i in range(n_per)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _build_index(spark, tmp_path, name="idx"):
    corpus = _two_blob_corpus(spark)
    assigned, cents = ivf_index(corpus, n_centroids=2)
    path = str(tmp_path / name)
    ivf_write(assigned, path, centroids=cents)
    return path


def _build_pq_index(spark, tmp_path, name="pqidx"):
    from batch_process_spark.operators import pq
    from batch_process_spark.operators.similarity import ivf_index_stats

    corpus = _two_blob_corpus(spark).persist()
    corpus.count()
    codes, cents, cb = pq.ivfpq_index(corpus, subdim=2, k_code=4,
                                      n_centroids=2)
    floats = corpus.join(codes.select("vec_id", "centroid_id"), "vec_id")
    path = str(tmp_path / name)
    pq.ivfpq_write(codes, path, cents, cb, subdim=2,
                   stats=ivf_index_stats(floats, cents))
    corpus.unpersist()
    return path


def test_cas_write_rejects_stale_version(spark, tmp_path):
    """Commit-time CAS: a writer holding a version that a concurrent
    mutation has since bumped fails loudly, and the stored meta keeps
    the concurrent writer's state (no lost update)."""
    path = _build_index(spark, tmp_path)
    stale = read_index_meta(spark, path)  # writer A reads
    # writer B commits in between (delete bumps the version)
    ivf_delete(spark, path, [0, 1])
    after_b = read_index_meta(spark, path)
    assert int(after_b["version"]) > int(stale["version"])
    # writer A tries to commit its stats off the stale read
    with pytest.raises(ConcurrentIndexMutation, match="version"):
        write_index_meta(
            spark, path, copy.deepcopy(stale),
            expected_version=int(stale["version"]),
        )
    # B's state survived — n_vectors still reflects the delete
    assert read_index_meta(spark, path)["stats"]["n_vectors"] == \
        after_b["stats"]["n_vectors"]


def test_append_trips_on_racing_delete(spark, tmp_path, monkeypatch):
    """The real op path: ivf_append whose initial meta read is stale
    (a delete committed right after it) must trip at its stats commit,
    not silently un-delete the stats."""
    path = _build_index(spark, tmp_path)
    stale = copy.deepcopy(read_index_meta(spark, path))
    ivf_delete(spark, path, [0, 1, 2])  # the racing writer commits

    real = similarity.read_index_meta
    calls = {"n": 0}

    def first_read_is_stale(sp, p):
        calls["n"] += 1
        if calls["n"] == 1:  # the append's initial read: pre-delete state
            return copy.deepcopy(stale)
        return real(sp, p)

    monkeypatch.setattr(similarity, "read_index_meta", first_read_is_stale)
    new = spark.createDataFrame(
        [(500, [5.1, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ConcurrentIndexMutation):
        ivf_append(spark, path, new)
    # the delete's stats were NOT clobbered
    assert read_index_meta(spark, path)["stats"]["n_vectors"] == 37


def test_recluster_trips_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """ivf_recluster re-checks the version right before the whole-index
    swap; a concurrent commit aborts the swap and discards the rebuilt
    temp dir."""
    path = _build_index(spark, tmp_path)
    stale = copy.deepcopy(read_index_meta(spark, path))
    ivf_append(spark, path, spark.createDataFrame(
        [(600, [5.2, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    ))

    real = similarity.read_index_meta
    calls = {"n": 0}

    def first_read_is_stale(sp, p):
        calls["n"] += 1
        if calls["n"] == 1:
            return copy.deepcopy(stale)
        return real(sp, p)

    monkeypatch.setattr(similarity, "read_index_meta", first_read_is_stale)
    with pytest.raises(ConcurrentIndexMutation, match="recluster"):
        ivf_recluster(spark, path, force=True)
    assert not os.path.exists(path + ".__recluster__")
    # index still serves the post-append state
    df, _, stats = ivf_read_index(spark, path)
    assert df.count() == 41 and stats["n_vectors"] == 41


def test_meta_crash_window_recoverable(spark, tmp_path):
    """A crash between rename-aside and swap-in leaves _ivf_meta.__old__
    only: readers fall back to it, and the next write restores it first
    so the version counter never resets."""
    path = _build_index(spark, tmp_path)
    meta_v = int(read_index_meta(spark, path)["version"])
    final = os.path.join(path, "_ivf_meta")
    # simulate the crash: prior meta renamed aside, replacement never landed
    os.rename(final, final + ".__old__")
    recovered = read_index_meta(spark, path)  # reader fallback
    assert int(recovered["version"]) == meta_v
    # next writer rolls the aside back and continues the counter
    write_index_meta(spark, path, copy.deepcopy(recovered),
                     expected_version=meta_v)
    assert int(read_index_meta(spark, path)["version"]) == meta_v + 1
    assert not os.path.exists(final + ".__old__")


def test_plain_ivf_recluster_rejects_corpus(spark, tmp_path):
    """corpus= on a plain float IVF index is refused: an external float
    corpus still containing ivf_delete'd vectors would silently
    resurrect them (the stored vectors are always sufficient)."""
    path = _build_index(spark, tmp_path)
    stale_corpus = _two_blob_corpus(spark)  # caller's pre-delete copy
    ivf_delete(spark, path, [0])
    with pytest.raises(ValueError, match="resurrect"):
        ivf_recluster(spark, path, corpus=stale_corpus, force=True)
    # and the purge stands after a legitimate (no-corpus) rebuild
    ivf_recluster(spark, path, force=True)
    df, _, stats = ivf_read_index(spark, path)
    assert df.filter("vec_id = 0").count() == 0
    assert stats["n_vectors"] == 39


def test_ivfpq_recluster_rejects_corpus_with_deleted_ids(spark, tmp_path):
    """IVFPQ recluster verifies corpus ids == stored code ids by count;
    a corpus superset (deleted ids still in the caller's float copy)
    fails loudly instead of inflating the stats."""
    from batch_process_spark.operators import pq
    from batch_process_spark.operators.similarity import ivf_index_stats

    corpus = _two_blob_corpus(spark).persist()
    corpus.count()
    codes, cents, cb = pq.ivfpq_index(corpus, subdim=2, k_code=4, n_centroids=2)
    floats = corpus.join(codes.select("vec_id", "centroid_id"), "vec_id")
    path = str(tmp_path / "pqidx")
    pq.ivfpq_write(codes, path, cents, cb, subdim=2,
                   stats=ivf_index_stats(floats, cents))
    ivf_delete(spark, path, [0, 100])
    with pytest.raises(ValueError, match="resurrect"):
        ivf_recluster(spark, path, corpus=corpus, force=True)
    # the matching corpus (deletes applied) is accepted
    live = corpus.filter("vec_id NOT IN (0, 100)")
    rep = ivf_recluster(spark, path, corpus=live, force=True, seed=3)
    assert rep["reclustered"] is True
    codes2, _, _, _, stats2 = pq.ivfpq_read(spark, path)
    assert codes2.count() == 38 and stats2["n_vectors"] == 38
    corpus.unpersist()


def test_sampled_retrain_assignment_argmin_exact(spark, tmp_path):
    """train_sample bounds the KMeans input but the re-assign covers
    every vector argmin-exactly: each stored vector's centroid_id is
    the true nearest trained centroid (numpy referee), the index row
    count is unchanged, and stats reflect the full assignment."""
    rng = np.random.default_rng(23)
    blobs = [(5.0, 0, 0, 0), (-5.0, 0, 0, 0), (0, 8.0, 0, 0)]
    rows = [
        (b * 1000 + i, [float(x) for x in rng.normal(blobs[b], 0.4)])
        for b in range(3) for i in range(60)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = ivf_index(corpus, n_centroids=3)
    path = str(tmp_path / "sampled")
    ivf_write(assigned, path, centroids=cents)

    rep = ivf_recluster(spark, path, force=True, seed=7, train_sample=40)
    assert rep["reclustered"] is True and rep["train_sample"] == 40

    df, cents2, stats = ivf_read_index(spark, path)
    got = df.select("vec_id", "embedding", "centroid_id").collect()
    assert len(got) == 180 and stats["n_vectors"] == 180
    C = np.array(cents2)
    for r in got:
        d2 = ((C - np.array(r["embedding"])) ** 2).sum(axis=1)
        best = float(d2.min())
        # argmin-exact with ties to the lowest centroid id
        assert d2[r["centroid_id"]] == pytest.approx(best)
        assert r["centroid_id"] == int(np.flatnonzero(
            np.isclose(d2, best)).min())
    # well-separated blobs: a 40-vector sample still finds all three
    sizes = sorted(stats["cell_sizes"].values())
    assert sizes == [60, 60, 60]


def test_sampled_retrain_matches_full_assign_operator(spark):
    """Property: for ANY centroid set produced by a sampled train,
    ivf_assign over the full frame equals the brute-force argmin —
    i.e. sampling changes WHERE the centroids sit, never the exactness
    of the assignment."""
    rng = np.random.default_rng(41)
    vecs = rng.normal(size=(50, 4))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(df.sample(fraction=0.4, seed=2), n_centroids=4,
                             seed=2)
    got = {r["vec_id"]: r["centroid_id"]
           for r in ivf_assign(df, cents).collect()}
    C = np.array(cents)
    for i, v in enumerate(vecs):
        d2 = ((C - v) ** 2).sum(axis=1)
        assert got[i] == int(np.flatnonzero(np.isclose(d2, d2.min())).min())


def test_hadoopfs_swap_recover_states(spark, tmp_path):
    """sinks.hadoopfs swap_directory_fs replaces a directory (or writes
    it the first time) and recover_swap_fs rolls a crashed swap forward
    or back deterministically (exercised here via the local Hadoop
    FS)."""
    from batch_process_spark.sinks.hadoopfs import (
        HadoopFS,
        recover_swap_fs,
        swap_directory_fs,
    )

    def mk(d, marker, success=True):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data.parquet"), "w") as f:
            f.write(marker)
        if success:
            open(os.path.join(d, "_SUCCESS"), "w").close()

    base = str(tmp_path / "cell")
    fs = HadoopFS(spark, base)

    # first write: no target yet, the temp simply takes the name
    t0 = str(tmp_path / "cell.__t0__")
    mk(t0, "v1")
    swap_directory_fs(fs, t0, base)
    assert open(os.path.join(base, "data.parquet")).read() == "v1"
    assert not os.path.exists(t0)

    # happy path: swap replaces contents, aside cleaned up
    tmp = str(tmp_path / "cell.__tmp__")
    mk(tmp, "v2")
    swap_directory_fs(fs, tmp, base)
    assert open(os.path.join(base, "data.parquet")).read() == "v2"
    assert not os.path.exists(base + ".__old__")

    # crash between rename-aside and swap-in, temp INCOMPLETE -> roll back
    os.rename(base, base + ".__old__")
    t2 = str(tmp_path / "cell.__t2__")
    mk(t2, "v3", success=False)
    assert recover_swap_fs(fs, base, t2) == "rolled_back"
    assert open(os.path.join(base, "data.parquet")).read() == "v2"

    # crash between rename-aside and swap-in, temp COMPLETE -> roll forward
    os.rename(base, base + ".__old__")
    t3 = str(tmp_path / "cell.__t3__")
    mk(t3, "v4")
    assert recover_swap_fs(fs, base, t3) == "rolled_forward"
    assert open(os.path.join(base, "data.parquet")).read() == "v4"
    assert not os.path.exists(base + ".__old__")

    # crash after swap-in but before aside cleanup -> finish (drop aside)
    mk(base + ".__old__", "stale")
    assert recover_swap_fs(fs, base) == "rolled_forward"
    assert not os.path.exists(base + ".__old__")
    assert recover_swap_fs(fs, base) == "clean"


def test_hadoopfs_rename_refuses_existing_destination(spark, tmp_path):
    """Hadoop rename moves src INTO an existing dst dir — the wrapper
    must reject that outright so a swap can never mis-nest."""
    from batch_process_spark.sinks.hadoopfs import HadoopFS

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a)
    os.makedirs(b)
    fs = HadoopFS(spark, a)
    with pytest.raises(IOError, match="destination exists"):
        fs.rename(a, b)


def _cell_listing(root: str) -> dict[str, tuple[int, bytes]]:
    """{relative file path: (size, md5)} over every data file under the
    index's cell directories — the byte-identity referee for the
    stage-then-swap append contract."""
    import hashlib

    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        if not (rel_dir == "." or rel_dir.startswith("centroid_id=")):
            continue
        for name in filenames:
            p = os.path.join(dirpath, name)
            with open(p, "rb") as f:
                h = hashlib.md5(f.read()).digest()
            out[os.path.relpath(p, root)] = (os.path.getsize(p), h)
    return out


def test_tripped_append_leaves_index_byte_identical(spark, tmp_path,
                                                    monkeypatch):
    """Stage-then-swap (r11 verdict item 1): a ConcurrentIndexMutation
    trip during ivf_append leaves every cell file byte-identical to the
    pre-append state — no orphaned vectors, no stats drift, no staging
    residue — and the retry commits the batch exactly once."""
    path = _build_index(spark, tmp_path)
    ivf_delete(spark, path, [0, 1, 2])  # the racing writer's commit
    before_files = _cell_listing(path)
    before_stats = read_index_meta(spark, path)["stats"]
    stale = copy.deepcopy(read_index_meta(spark, path))
    stale["version"] = int(stale["version"]) - 1  # pre-delete view

    real = similarity.read_index_meta
    calls = {"n": 0}

    def first_read_is_stale(sp, p):
        calls["n"] += 1
        return copy.deepcopy(stale) if calls["n"] == 1 else real(sp, p)

    monkeypatch.setattr(similarity, "read_index_meta", first_read_is_stale)
    new = spark.createDataFrame(
        [(500, [5.1, 0.0, 0.0, 0.0]), (501, [-5.1, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ConcurrentIndexMutation):
        ivf_append(spark, path, new)
    monkeypatch.setattr(similarity, "read_index_meta", real)

    # byte-identical cell listings, unchanged stats, no staging residue
    assert _cell_listing(path) == before_files
    after = read_index_meta(spark, path)
    assert after["stats"] == before_stats
    assert "pending_append" not in after
    assert not [d for d in os.listdir(path)
                if d.startswith(similarity.APPEND_STAGE_PREFIX)]

    # clean retry: exactly-once, no duplicate ids
    ivf_append(spark, path, new)
    df, _, stats = ivf_read_index(spark, path)
    assert df.count() == 39 and stats["n_vectors"] == 39
    assert df.filter("vec_id IN (500, 501)").count() == 2
    assert df.select("vec_id").distinct().count() == 39


@pytest.mark.parametrize("build", [_build_index, _build_pq_index],
                         ids=["float", "pq"])
def test_append_crash_between_cas_and_movein_heals(spark, tmp_path,
                                                   monkeypatch, build):
    """Crash window: meta committed (stats + pending_append marker) but
    the staged files never renamed in. Reads stay recall-safe (stats
    over-count, data serves the old state), and the NEXT lifecycle op
    heals it — completes the move, clears the marker — with no
    duplicate ids. The one append commit serves both index kinds."""
    path = build(spark, tmp_path)

    def crash(fs, stage, base):
        raise RuntimeError("simulated crash after CAS, before move-in")

    monkeypatch.setattr(similarity, "_move_staged_cells", crash)
    new = spark.createDataFrame(
        [(700, [5.3, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        ivf_append(spark, path, new)
    monkeypatch.undo()

    mid = read_index_meta(spark, path)
    assert mid["stats"]["n_vectors"] == 41  # stats already merged
    assert mid["pending_append"].startswith(similarity.APPEND_STAGE_PREFIX)
    assert spark.read.parquet(path).count() == 40  # data not yet exposed

    # next lifecycle op heals: move completed, marker cleared
    ivf_append(spark, path, spark.createDataFrame(
        [(701, [-5.3, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    ))
    df, stats = spark.read.parquet(path), read_index_meta(spark, path)["stats"]
    assert df.count() == 42 and stats["n_vectors"] == 42
    assert df.select("vec_id").distinct().count() == 42
    # marker clearing is lazy: the healing append leaves its OWN marker,
    # whose stage dir is gone — the invariant is marker-dir-absent
    # (append fully exposed), cleared at the next op's meta commit
    final = read_index_meta(spark, path)
    if "pending_append" in final:
        assert not os.path.exists(os.path.join(path, final["pending_append"]))
    assert not [d for d in os.listdir(path)
                if d.startswith(similarity.APPEND_STAGE_PREFIX)]
    # a delete commits a marker-free meta (recover strips it)
    ivf_delete(spark, path, [700])
    assert "pending_append" not in read_index_meta(spark, path)


def test_tripped_ivfpq_append_leaves_index_byte_identical(spark, tmp_path,
                                                          monkeypatch):
    """Same stage-then-swap contract for the codes index: a tripped
    ivf_append leaves the stored codes byte-identical and the retry
    is duplicate-free."""
    from batch_process_spark.operators import pq

    path = _build_pq_index(spark, tmp_path, "pqidx_trip")
    before_files = _cell_listing(path)
    before_stats = read_index_meta(spark, path)["stats"]
    stale = copy.deepcopy(read_index_meta(spark, path))
    stale["version"] = int(stale["version"]) - 1

    real = similarity.read_index_meta
    calls = {"n": 0}

    def first_read_is_stale(sp, p):
        calls["n"] += 1
        return copy.deepcopy(stale) if calls["n"] == 1 else real(sp, p)

    monkeypatch.setattr(similarity, "read_index_meta", first_read_is_stale)
    new = spark.createDataFrame(
        [(800, [5.0, 0.1, -5.0, 0.1])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ConcurrentIndexMutation):
        ivf_append(spark, path, new)
    monkeypatch.setattr(similarity, "read_index_meta", real)

    assert _cell_listing(path) == before_files
    assert read_index_meta(spark, path)["stats"] == before_stats
    assert not [d for d in os.listdir(path)
                if d.startswith(similarity.APPEND_STAGE_PREFIX)]

    inc = ivf_append(spark, path, new)
    assert inc.count() == 1
    codes2, _, _, _, stats2 = pq.ivfpq_read(spark, path)
    assert codes2.count() == 41 and stats2["n_vectors"] == 41
    assert codes2.select("vec_id").distinct().count() == 41


def test_kmeans_degenerate_inputs(spark):
    """k-means++ seeding survives an all-identical sample (uniform
    fallback when every D² weight is zero) and rejects an empty one
    with a clear error instead of an opaque numpy IndexError."""
    same = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(same, n_centroids=3, seed=5)
    assert all(c == [1.0, 2.0, 3.0, 4.0] for c in cents)
    empty = same.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty training sample"):
        kmeans_centroids(empty, n_centroids=3)


def test_recluster_emits_compacted_cells(spark, tmp_path):
    """r11 verdict item 5: the recluster rewrite lands at compact-level
    file counts directly (cell_file_plan sizing from the old index's
    measured bytes/vec) — no follow-up compact_index needed — with the
    vector set and stats exactly preserved."""
    path = _build_index(spark, tmp_path, "compactidx")
    for j in range(3):  # fragment the index with small appends
        ivf_append(spark, path, spark.createDataFrame(
            [(900 + j * 10 + i, [5.0 + 0.01 * i, 0.0, 0.0, 0.0])
             for i in range(4)],
            "vec_id long, embedding array<double>",
        ))

    def cell_files(p):
        return {
            d: len([f for f in os.listdir(os.path.join(p, d))
                    if f.endswith(".parquet")])
            for d in os.listdir(p) if d.startswith("centroid_id=")
        }

    before = cell_files(path)
    assert sum(before.values()) > len(before)  # fragmented by appends
    rep = ivf_recluster(spark, path, force=True)
    assert rep["reclustered"] is True
    after = cell_files(path)
    # tiny cells: exactly ONE file each (cell_file_plan floors at 1)
    assert all(n == 1 for n in after.values()), after
    df, _, stats = ivf_read_index(spark, path)
    assert df.count() == 52 and stats["n_vectors"] == 52
    assert df.select("vec_id").distinct().count() == 52


def test_ivf_write_stats_without_centroids(spark, tmp_path):
    """Advisor r12: ivf_write(assigned, path, stats=...) with
    centroids=None is a plain no-meta write — the auto file_plan
    branch must not dereference centroids[0]."""
    corpus = _two_blob_corpus(spark)
    assigned, cents = ivf_index(corpus, n_centroids=2)
    from batch_process_spark.operators.similarity import ivf_index_stats

    stats = ivf_index_stats(assigned, cents)
    path = str(tmp_path / "nometa")
    ivf_write(assigned, path, stats=stats)  # no TypeError
    assert spark.read.parquet(path).count() == 40
    assert not os.path.isdir(os.path.join(path, "_ivf_meta"))


def test_compacted_cells_broadcast_path_matches_literal(spark):
    """Advisor r12: past _CELL_MAP_LITERAL_CAP cells the per-cell file
    counts ride a broadcast join instead of an inline literal map (plan
    bloat / Janino 64KB ceiling at 10k+ centroids). Both paths must
    assign identical salts, hence identical per-cell write layouts."""
    corpus = _two_blob_corpus(spark)
    assigned, _ = ivf_index(corpus, n_centroids=2)
    plan = {0: 3, 1: 2}

    def layout(df):
        from pyspark.sql import functions as F

        out = similarity._compacted_cells(df, plan, "vec_id")
        return sorted(
            out.withColumn("p", F.spark_partition_id())
            .groupBy("centroid_id", "p").count().collect()
        )

    lit_layout = layout(assigned)
    orig_cap = similarity._CELL_MAP_LITERAL_CAP
    similarity._CELL_MAP_LITERAL_CAP = 0  # force the broadcast path
    try:
        bc_layout = layout(assigned)
    finally:
        similarity._CELL_MAP_LITERAL_CAP = orig_cap
    assert lit_layout == bc_layout
    # every cell spread over at most its planned file count
    from collections import Counter

    per_cell = Counter(r["centroid_id"] for r in bc_layout)
    assert all(per_cell[c] <= n for c, n in plan.items())


def test_recluster_restamp_trip_is_partial_success(spark, tmp_path):
    """Advisor r12: a writer landing in the swap->restamp window trips
    the restamp CAS, but the rebuilt index already COMMITTED — the
    caller gets a partial-success report (restamp_lost), not an
    exception for a recluster that landed, and the racing writer's
    fresher meta stands.

    The race is injected BETWEEN recluster's post-swap meta read and
    its restamp write (the actual CAS window): a bump during the swap
    itself would be observed by the subsequent read and the restamp
    would legitimately succeed against the fresher version."""
    from batch_process_spark.operators import similarity as sim
    from batch_process_spark.sinks import hadoopfs

    path = _build_index(spark, tmp_path, "restampidx")
    real_swap = hadoopfs.swap_directory_fs
    real_read = sim.read_index_meta
    armed = {"swap_done": False, "raced": False}

    def arming_swap(fs, tmp, base):
        real_swap(fs, tmp, base)
        armed["swap_done"] = True

    def racing_read(spark_, p):
        meta = real_read(spark_, p)
        if armed["swap_done"] and not armed["raced"]:
            # racing writer lands AFTER recluster's read, BEFORE its
            # restamp write: bump the stored meta so recluster's
            # expected_version is stale
            armed["raced"] = True
            bump = real_read(spark_, p)
            write_index_meta(spark_, p, bump,
                             expected_version=int(bump.get("version", 0)))
        return meta

    orig_swap, orig_read = hadoopfs.swap_directory_fs, sim.read_index_meta
    hadoopfs.swap_directory_fs = arming_swap
    sim.read_index_meta = racing_read
    try:
        rep = ivf_recluster(spark, path, force=True)
    finally:
        hadoopfs.swap_directory_fs = orig_swap
        sim.read_index_meta = orig_read
    assert rep["reclustered"] is True
    assert rep.get("restamp_lost") is True
    # index is live and complete despite the lost restamp
    df, _, stats = ivf_read_index(spark, path)
    assert df.count() == 40 and stats["n_vectors"] == 40
