"""The session caches in operators/caching.py: the plan-keyed persist
memo (hit, cross-session rebuild, LRU eviction), the one release that
invalidate_tables makes, and a structure guard that keeps every cache
snapshotting a table in that one module."""

from __future__ import annotations

import ast
import os
from pathlib import Path

from pyspark import StorageLevel

from batch_process_spark.operators import caching
from batch_process_spark.operators.caching import memoized_persist

PKG = Path(__file__).resolve().parents[1] / "batch_process_spark"
CACHING = PKG / "operators" / "caching.py"


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_same_session_hit_returns_same_object(spark):
    caching.release_all()
    try:
        a = memoized_persist(spark.range(101).selectExpr("id * 3 AS x"))
        b = memoized_persist(spark.range(101).selectExpr("id * 3 AS x"))
        assert b is a
        assert a.storageLevel != StorageLevel.NONE
        assert len(caching._MEMO._entries) == 1
    finally:
        caching.release_all()


def test_other_session_unpersists_old_entry_and_rebuilds(spark):
    caching.release_all()
    other = spark.newSession()
    try:
        before = _persistent_rdd_ids(spark)
        a = memoized_persist(spark.range(102))
        a.count()
        a_rdds = _persistent_rdd_ids(spark) - before
        assert a_rdds, "the first entry never materialized"

        b = memoized_persist(other.range(102))
        assert b is not a
        assert not (a_rdds & _persistent_rdd_ids(spark)), "old entry still pinned"
        ((sess_ref, cached),) = caching._MEMO._entries.values()
        assert cached is b and sess_ref() is other
        assert b.storageLevel != StorageLevel.NONE
    finally:
        caching.release_all()


def test_overflow_unpersists_least_recently_used(spark):
    caching.release_all()
    try:
        frames = [
            memoized_persist(spark.range(1000 + i))
            for i in range(caching.MEMO_ENTRIES)
        ]
        assert all(f.storageLevel != StorageLevel.NONE for f in frames)
        # a hit refreshes frames[0], so frames[1] is now least recent
        assert memoized_persist(spark.range(1000)) is frames[0]
        memoized_persist(spark.range(999))
        assert frames[1].storageLevel == StorageLevel.NONE
        assert frames[0].storageLevel != StorageLevel.NONE
        assert all(f.storageLevel != StorageLevel.NONE for f in frames[2:])
        assert len(caching._MEMO._entries) == caching.MEMO_ENTRIES
    finally:
        caching.release_all()


def test_invalidate_tables_releases_every_cache(spark, tmp_path):
    import pyarrow as pa

    from batch_process_spark.queries import invalidate_tables

    caching.release_all()
    df = memoized_persist(spark.range(103))
    caching.SPAN_PARTS[("probe", "h-occ")] = 7
    d, _ = caching.staged_slices(
        str(tmp_path), "t_release_", lambda _: pa.table({"v": [1, 2, 3]})
    )
    assert os.path.isdir(d)

    invalidate_tables(str(tmp_path))
    assert not caching._MEMO._entries
    assert df.storageLevel == StorageLevel.NONE
    assert not caching.SPAN_PARTS
    assert not caching._STAGED_DIRS
    assert not os.path.isdir(d)


def test_invalidate_tables_releases_the_ranking_pins(spark):
    """global_ranks (q84/q89/q120) pins its ranked frame past the build;
    the one release unpersists it with the memo entries."""
    from batch_process_spark.operators.ranking import global_ranks
    from batch_process_spark.queries import invalidate_tables

    caching.release_all()
    before = _persistent_rdd_ids(spark)
    global_ranks(spark.range(200).selectExpr("id % 7 AS v"), ["v"]).collect()
    assert caching._PINNED and _persistent_rdd_ids(spark) - before, "nothing pinned"
    invalidate_tables()
    assert not caching._PINNED
    assert _persistent_rdd_ids(spark) <= before


# --- structure guard -------------------------------------------------------
# (staged temp dirs and their exit hooks: tests/test_scripts.py)

def _modules():
    for path in sorted(PKG.rglob("*.py")):
        if path != CACHING:
            yield path.relative_to(PKG), ast.parse(path.read_text(), str(path))


def _callee(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    return f.attr if isinstance(f, ast.Attribute) else None


def test_caches_that_snapshot_a_table_live_only_in_caching():
    memos, releases = [], []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node) == "PersistMemo":
                memos.append(f"{rel}:{node.lineno}")
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name.startswith("release_"):
                    releases.append(f"{rel}:{node.lineno} {node.name}")
    assert not memos, f"PersistMemo built outside caching.py: {memos}"
    assert not releases, f"release_* defined outside caching.py: {releases}"
