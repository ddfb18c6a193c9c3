"""The session caches that snapshot a table, and their one release.

Everything the engine keeps across queries that holds table data (not
just a plan) lives here, so a mid-session file rewrite is answered by
one call, ``release_all()``, which ``queries.invalidate_tables`` makes:

- ``memoized_persist``: one bounded LRU of persisted DataFrames keyed
  on the analyzed plan's ``semanticHash`` plus caller extras. Every
  operator that feeds one intermediate frame to several branches
  (dedup shingles, q96 tf, q102 grams, q118 deviations, the sketch
  inputs, graph edges, PQ codes, the span occurrence frame) persists
  through it, under one entry budget, ``MEMO_ENTRIES``.
- ``pinned_for_result``: a bounded pool of frames persisted for a lazy
  result that reads them after its builder returned (the global-ranks
  frame, ``operators.ranking``), released oldest first.
- ``SPAN_PARTS``: the span family's partition estimate, keyed like the
  span occurrence entry it sizes.
- ``staged_slices``: parquet slices of a table, written to a temp dir
  per ``(sf_dir, prefix)`` and fed one per micro-batch by the stream
  queries (q44/q71/q72 share one single-slice copy of events;
  q131/q134/q144/q150/q171-q173/q196/q214). It is the engine's one
  temp-dir memo and its one ``atexit`` hook.

Measured traffic, one ``get_spark()`` session at sf0.01 (4 vCPUs): the 18
bench queries make 2 puts (q18 shingles, one span frame) and 1 span hit on
their cold pass and no memo call on steady passes, which the plan cache
answers. All 247 catalog queries in sorted order make 39 puts and 23
hits on the first pass (15 evictions, 24 entries live at the end) and
no memo call on the second.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
from collections import OrderedDict, deque

from pyspark.sql import DataFrame

# The sum of the six per-module caps this memo replaced, so no more
# frames can be pinned than before. q151 puts six entries in one build
# (its per-superstep frontiers), and they must not be evicted before
# the action runs.
MEMO_ENTRIES = 24


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped; nothing to release


class PersistMemo:
    """Bounded memo of persisted DataFrames keyed on the analyzed
    plan's ``semanticHash`` plus caller extras.

    - A hit from the SAME live session returns the cached frame.
    - A hit from a DIFFERENT live session unpersists the old entry
      (its frame is unreachable from here but still pinned in that
      session's executors) and rebuilds.
    - A dead session's entry is dropped without the unpersist RPC.
    """

    def __init__(self, max_entries: int):
        self._entries: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._max = max_entries

    @staticmethod
    def plan_key(df: DataFrame, *extra) -> tuple:
        """Key for ``df``: its analyzed plan's semanticHash, then ``extra``."""
        return (df._jdf.queryExecution().analyzed().semanticHash(), *extra)

    def get(self, key: tuple, session) -> DataFrame | None:
        if key not in self._entries:
            return None
        sess_ref, cached = self._entries[key]
        target = sess_ref()
        if target is session:
            self._entries.move_to_end(key)
            return cached
        if target is not None:  # other LIVE session: release its frame
            _unpersist(cached)
        del self._entries[key]
        return None

    def put(self, key: tuple, session, df: DataFrame,
            storage_level=None) -> DataFrame:
        """Persist ``df`` (at ``storage_level`` when given, else the
        engine default), record it under ``key``, evict LRU overflow."""
        df = df.persist(storage_level) if storage_level is not None else df.persist()
        self._entries[key] = (weakref.ref(session), df)
        while len(self._entries) > self._max:
            _, (_, old) = self._entries.popitem(last=False)
            _unpersist(old)
        return df

    def release_all(self) -> None:
        """Unpersist and drop every entry (file-rewrite invalidation)."""
        while self._entries:
            _, (_, cached) = self._entries.popitem()
            _unpersist(cached)


_MEMO = PersistMemo(max_entries=MEMO_ENTRIES)


def memoized_persist(key_df: DataFrame, *extra, build=None,
                     storage_level=None) -> DataFrame:
    """The persisted frame for ``key_df``'s plan (plus ``extra``), from
    the memo when this session already built it. On a miss it persists
    ``build()`` when given (a frame derived from ``key_df``), else
    ``key_df`` itself."""
    session = key_df.sparkSession
    key = PersistMemo.plan_key(key_df, *extra)
    hit = _MEMO.get(key, session)
    if hit is not None:
        return hit
    df = build() if build is not None else key_df
    return _MEMO.put(key, session, df, storage_level)


# The ranked frame must stay cached until the caller's action consumes
# the lazy result, so global_ranks cannot unpersist it itself; the
# oldest beyond this bound are released.
RESULT_PINS = 4
_PINNED: deque[DataFrame] = deque()


def pinned_for_result(df: DataFrame) -> DataFrame:
    """Persist ``df`` for a lazy result built on it; it stays until
    ``RESULT_PINS`` newer pins or ``release_all`` release it."""
    df = df.persist()
    _PINNED.append(df)
    while len(_PINNED) > RESULT_PINS:
        _unpersist(_PINNED.popleft())
    return df


# span occurrence plan key -> partition count (None: session default)
SPAN_PARTS: dict[tuple, int | None] = {}

_STAGED_DIRS: dict[tuple[str, str], str] = {}  # (abspath(sf_dir), prefix) -> dir


def staged_slices(sf_dir: str, prefix: str, build_table, n_slices: int = 3):
    """The one staging protocol for the stream fixtures:
    ``build_table(sf_dir)`` returns a pyarrow Table, written as
    ``n_slices`` contiguous parquet slices fed one per micro-batch,
    into a temp dir memoized per ``(sf_dir, prefix)``. Returns
    ``(dir, write_slice)`` with slice 0 written; when every slice
    already exists the table is NOT rebuilt and write_slice is a no-op.
    ``release_all`` deletes the dirs on table rewrites."""
    import pyarrow.parquet as pq

    key = (os.path.abspath(sf_dir), prefix)
    d = _STAGED_DIRS.get(key)
    if d is not None and os.path.isdir(d) and all(
        os.path.exists(os.path.join(d, f"slice_{i}.parquet")) for i in range(n_slices)
    ):
        return d, lambda i: None
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=prefix)
        # reclaim the staged copy at interpreter exit; in-session
        # invalidation is release_all
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _STAGED_DIRS[key] = d
    tbl = build_table(sf_dir)
    n = tbl.num_rows
    cuts = [round(i * n / n_slices) for i in range(n_slices + 1)]

    def write_slice(i: int) -> None:
        pq.write_table(
            tbl.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(d, f"slice_{i}.parquet"),
        )

    write_slice(0)
    return d, write_slice


def release_all() -> None:
    """Drop every cache here. Each snapshots a table (a persisted frame
    by plan, a staged slice dir by copy) and none can be mapped back to
    a path, so any table rewrite releases them all: over-broad, never
    stale."""
    _MEMO.release_all()
    while _PINNED:
        _unpersist(_PINNED.popleft())
    SPAN_PARTS.clear()
    for d in _STAGED_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _STAGED_DIRS.clear()
