"""Unit tests for the shared staged-slice protocol behind the stream
fixtures (caching.staged_slices): memoization, eager first slice,
contiguous coverage, incomplete-dir rebuild, and release-driven
invalidation — pure pyarrow, no Spark."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from batch_process_spark.operators.caching import staged_slices


def _mk_build(n_rows: int, calls: list):
    def build(sf_dir: str):
        calls.append(sf_dir)
        return pa.table({"v": pa.array(range(n_rows), pa.int64())})

    return build


def test_build_writes_first_slice_eagerly_and_covers_all_rows(tmp_path):
    calls: list = []
    d, write_slice = staged_slices(
        str(tmp_path), "t_", _mk_build(10, calls), n_slices=3
    )
    assert calls == [str(tmp_path)]
    assert os.path.exists(os.path.join(d, "slice_0.parquet"))
    assert not os.path.exists(os.path.join(d, "slice_1.parquet"))
    write_slice(1)
    write_slice(2)
    got = []
    for i in range(3):
        got += pq.read_table(os.path.join(d, f"slice_{i}.parquet"))["v"].to_pylist()
    # contiguous, complete, in order — the micro-batch feed contract
    assert got == list(range(10))


def test_complete_dir_is_memoized_without_rebuild(tmp_path):
    calls: list = []
    build = _mk_build(6, calls)
    d, write_slice = staged_slices(str(tmp_path), "t_", build, n_slices=2)
    write_slice(1)
    assert len(calls) == 1
    d2, ws2 = staged_slices(str(tmp_path), "t_", build, n_slices=2)
    assert d2 == d
    assert len(calls) == 1  # table NOT rebuilt
    assert ws2(0) is None  # no-op writer


def test_incomplete_dir_rebuilds_in_place(tmp_path):
    calls: list = []
    build = _mk_build(6, calls)
    d, _ = staged_slices(str(tmp_path), "t_", build, n_slices=2)
    # slice_1 was never written (e.g. the run died mid-stream): the next
    # call must rebuild rather than serve a half-staged dir
    d2, ws2 = staged_slices(str(tmp_path), "t_", build, n_slices=2)
    assert d2 == d
    assert len(calls) == 2
    ws2(1)
    assert os.path.exists(os.path.join(d, "slice_1.parquet"))


def test_release_invalidates_memo(tmp_path):
    from batch_process_spark.operators.caching import _STAGED_DIRS, release_all
    from batch_process_spark.queries_ext10 import _q171_slices

    docs = pa.table(
        {
            "doc_id": pa.array([0, 20, 40], pa.int64()),
            "text": pa.array(["alpha words here", "beta words here", "gamma words"]),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    d, _ = _q171_slices(str(tmp_path))
    assert os.path.isdir(d)
    release_all()
    assert str(tmp_path) not in {sf for sf, _ in _STAGED_DIRS}
    assert not os.path.isdir(d)  # staged dir deleted, not just forgotten
    d2, _ = _q171_slices(str(tmp_path))
    assert d2 != d and os.path.isdir(d2)
    release_all()
