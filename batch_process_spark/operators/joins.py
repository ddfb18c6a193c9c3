"""Join operators.

The reference has no general join; its join-like behavior is label
enrichment via a lookup dict with fallback-to-name
(``processors/file_ops.py:252-266``) — i.e. a broadcast left join +
coalesce. We expose that pattern plus the standard surface.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default build-side size gate for ``gated_broadcast`` (bytes). 50 MB
#: is ~5x Spark's own autoBroadcastJoinThreshold default — generous for
#: a deliberate hint, still far below executor memory. Read at call
#: time, so tests patch it low to exercise the shuffle fallback.
BROADCAST_CAP_BYTES = 50 * 1024 * 1024


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan — from plan
    statistics only, NO job runs. For parquet scans this is file size
    scaled by column pruning; joins multiply child sizes (size-only
    estimator), so gate FK-join build sides on their INPUTS, not the
    join output. Returns None when the probe isn't available (mocked
    sessions, connect mode)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def gated_broadcast(df: DataFrame, *gate_on: DataFrame, cap_bytes: int | None = None):
    """Broadcast ``df`` ONLY when plan stats say it is small; otherwise
    return it hinted ``shuffle_hash`` so the join shuffles instead of
    OOMing the executors. This is the scale-safe form of an explicit
    ``F.broadcast``: the hint bypasses size-based planning, so a bare
    broadcast of anything fact-derived (filtered orders, a pre-joined
    composite) is a 100x-scale killer even when it wins at bench scale.

    ``gate_on``: optional frames whose SUMMED estimates stand in for
    ``df``'s. Needed when ``df`` is a join — the size-only estimator
    multiplies child sizes, wildly overestimating FK equi-joins whose
    output is bounded by the fact-side row count. Callers pass the join
    inputs (sound proxy when each fact row matches at most one build
    row). Unknown stats (None) fail SAFE to the shuffle path."""
    cap = BROADCAST_CAP_BYTES if cap_bytes is None else cap_bytes
    probes = gate_on if gate_on else (df,)
    total = 0
    for p in probes:
        est = estimated_bytes(p)
        if est is None:
            total = None
            break
        total += est
    if total is not None and total <= cap:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def fold_dim_to_map(
    dim: DataFrame, key_col: str, val_col: str, max_rows: int = 64
) -> dict | None:
    """Collect a BOUNDED dimension into a plain dict so callers can bake
    it into the plan as a constant-folded ``create_map`` literal — a
    broadcast join whose build side costs ZERO jobs per execution
    (Catalyst folds the all-literal CreateMap once at optimization; a
    BroadcastExchange build side costs one collect job per run).

    Only for genuinely tiny dims: ``GetMapValue`` on a literal map is a
    LINEAR key scan per row (measured ~1.5 us/row at 1000 entries), so
    ``max_rows`` defaults to 64 and should stay O(tens). Returns None —
    caller must fall back to a real broadcast join — when the dim
    exceeds ``max_rows`` or any key is NULL; duplicate keys raise
    (a fold would silently drop rows a join duplicates).

    EAGER SNAPSHOT: the fold collects NOW (one tiny job at
    plan-construction time) and bakes the dim's current contents into
    the plan as literals. A plan held across a dim-table update serves
    the stale snapshot — unlike the broadcast join it replaces, which
    re-reads at execution. Callers that hold built plans must rebuild
    after table changes. NOTE: the catalog's ``queries()`` callables
    MEMOIZE plans per (session, sf_dir) — a mid-session table rewrite
    must go through ``queries.invalidate_tables``, which drops both the
    plan cache and these baked literals; nothing else refreshes them.
    """
    rows = dim.select(key_col, val_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    out: dict = {}
    for r in rows:
        k = r[key_col]
        if k is None:
            return None  # NULL never equi-joins; map key can't hold it
        if k in out:
            raise ValueError(f"fold_dim_to_map: duplicate key {k!r} in {key_col}")
        out[k] = r[val_col]
    return out


def map_literal(mapping: dict):
    """A constant-foldable map literal Column from a Python dict."""
    args = []
    for k, v in mapping.items():
        args.append(F.lit(k))
        args.append(F.lit(v))
    return F.create_map(*args)


def inline_local(
    df: DataFrame,
    *gate_on: DataFrame,
    max_rows: int = 100_000,
    cap_bytes: int | None = None,
) -> DataFrame | None:
    """Materialize a BOUNDED small frame at plan-BUILD time into a
    driver-local relation (``LocalTableScan``), so joins that broadcast
    it pay ZERO broadcast-build jobs per execution: a
    ``BroadcastExchange`` over a distributed child submits one collect
    job every run, while one over a LocalTableScan builds its hashed
    relation driver-side with no job at all (the ``enrich_labels``
    dict-lookup pattern generalized to arbitrary bounded frames).

    Size-gated twice so the 100 TB case never materializes:

    - plan statistics first (``estimated_bytes`` — no job): a
      fact-scale input is refused before anything runs;
    - then a ``limit(max_rows + 1)`` collect: past the row cap the
      caller gets None and keeps the distributed frame (and its
      ``gated_broadcast`` / shuffle fallback, which is the correct
      plan at real scale).

    ``gate_on``: optional frames whose SUMMED estimates stand in for
    ``df``'s in the stats pre-gate — needed when ``df`` is a join,
    whose size-only estimate multiplies child sizes (same contract as
    ``gated_broadcast``).

    EAGER SNAPSHOT, same contract as ``semi_join_to_inset`` /
    ``fold_dim_to_map``: the collect runs NOW and freezes the frame's
    current contents into the plan; rebuild after table changes (the
    catalog's plan memo is dropped by ``queries.invalidate_tables``).
    """
    cap = BROADCAST_CAP_BYTES if cap_bytes is None else cap_bytes
    probes = gate_on if gate_on else (df,)
    total = 0
    for p in probes:
        est = estimated_bytes(p)
        if est is None:
            # fail SAFE like gated_broadcast: with no stats the bounded
            # collect below could still scan a fact-scale input and
            # pull up to max_rows wide rows to the driver at plan-build
            # time — keep the distributed frame instead
            return None
        total += est
    if total > cap:
        return None
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    # The ARROW path (pandas in, arrow.pyspark.enabled on — the session
    # default) is what makes this work: it plans a LocalTableScan,
    # whose broadcast build is driver-side and job-free. A list-of-Rows
    # createDataFrame instead parallelizes an RDD — a 32-task scan job
    # per broadcast build, i.e. exactly the cost this helper removes.
    local = df.sparkSession.createDataFrame(pdf, df.schema)
    plan = local._jdf.queryExecution().optimizedPlan().toString()
    if "LocalRelation" not in plan:  # arrow disabled => RDD-backed: no win
        return None
    return local


def semi_join_to_inset(keys_df: DataFrame, key_col: str, max_keys: int = 10_000) -> list | None:
    """Collect the (bounded) distinct key set of a semi-join's build
    side so the caller can replace the join with ``col.isin(keys)`` —
    Catalyst compiles large IN-lists to InSet (O(1) hash probe), and the
    probe side pays zero broadcast-build jobs. Returns None (caller
    keeps the real semi join) past ``max_keys`` or if any key is NULL.
    Exact only when the caller needs no columns from the build side —
    i.e. the join really is a semi join on a unique key set.

    ``max_keys`` bounds the literals BAKED INTO THE PLAN: every task
    ships the set and explain() prints it, so the cap is a plan-size
    budget (10k longs ~ 80 KB serialized), not an InSet probe-cost
    limit.

    EAGER SNAPSHOT: this runs a Spark job NOW (distinct scan of the
    build side) and freezes the key set into the returned list. Plans
    built from it do not see later updates to the underlying table —
    rebuild the plan after any table change (for catalog queries that
    means ``queries.invalidate_tables``, since ``queries()`` callables
    memoize plans per (session, sf_dir)), or keep the real semi join
    when the build side is mutable."""
    rows = keys_df.select(key_col).distinct().limit(max_keys + 1).collect()
    if len(rows) > max_keys:
        return None
    keys = [r[key_col] for r in rows]
    if any(k is None for k in keys):
        return None
    return keys


def enrich_labels(
    facts: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    label_col: str = "label",
    default_col: str | None = None,
    default_value=None,
    broadcast: bool = True,
    fold_max_rows: int = 32,
) -> DataFrame:
    """Left-join a small dimension onto facts; missing labels fall back
    to ``default_col`` (e.g. the name itself — the reference's
    ``all_dict.get(name, name)``) or ``default_value``.

    Tiny dims (<= ``fold_max_rows`` rows, single key column, exactly
    (key, label) shape) FOLD into a constant map-literal lookup — the
    semantically identical plan with no join and no per-run broadcast
    job. Larger dims broadcast-join — at 100 TB the fact side must
    never shuffle for a lookup table. Pass ``fold_max_rows=0`` to force
    the join path (e.g. when the dim has duplicate keys on purpose).

    The fold path is an EAGER SNAPSHOT (see ``fold_dim_to_map``): it
    reads the dim at plan-construction time, not execution time. Use
    ``fold_max_rows=0`` when the dim mutates under held plans.
    """
    if default_col is not None:
        fallback = F.col(default_col)
    else:
        fallback = F.lit(default_value)
    if (
        fold_max_rows
        and isinstance(on, str)
        and set(dim.columns) == {on, label_col}
        and on != label_col
    ):
        try:
            mapping = fold_dim_to_map(dim, on, label_col, max_rows=fold_max_rows)
        except ValueError:
            mapping = None  # duplicate keys: join semantics required
        if mapping is not None:
            if not mapping:
                return facts.withColumn(label_col, fallback)
            lookup = map_literal(mapping)[F.col(on)]
            return facts.withColumn(label_col, F.coalesce(lookup, fallback))
    d = F.broadcast(dim) if broadcast else dim
    out = facts.join(d, on=on, how="left")
    return out.withColumn(label_col, F.coalesce(F.col(label_col), fallback))


def semi(a: DataFrame, b: DataFrame, on) -> DataFrame:
    return a.join(b, on=on, how="left_semi")


def anti(a: DataFrame, b: DataFrame, on) -> DataFrame:
    return a.join(b, on=on, how="left_anti")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    keys: Sequence[str] = (),
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """Point-in-interval (range) join, half-open ``[start, end)``.

    A naive ``points.join(intervals, (ts >= start) & (ts < end))`` has
    no equi-key, so Spark falls back to BroadcastNestedLoopJoin —
    quadratic and a non-starter at scale. This rewrite buckets time at
    ``bucket_seconds``: each interval explodes to the buckets it covers
    (choose ``bucket_seconds`` >= typical interval length, so that's
    O(1) rows per interval), each point maps to one bucket, and the
    join becomes a hash equi-join on (keys..., bucket) with the exact
    range predicate as a residual filter.
    """
    keys = list(keys)
    # unix_timestamp handles both TIMESTAMP and TIMESTAMP_NTZ columns
    # (NTZ interpreted in the session timezone, pinned UTC engine-wide).
    # It truncates sub-second parts, which is harmless for BUCKETING
    # (floor-to-second then floor-to-bucket = floor-to-bucket) as long
    # as the end bucket is computed from end itself — an "end - 1s"
    # exclusivity trick would drop points landing in the final bucket
    # when end has a fractional second. Exactness lives in the residual
    # filter, so one possibly-empty boundary bucket row is fine.
    p_bucket = F.floor(F.unix_timestamp(F.col(point_col)) / bucket_seconds)
    i_start = F.floor(F.unix_timestamp(F.col(start_col)) / bucket_seconds)
    i_end = F.floor(F.unix_timestamp(F.col(end_col)) / bucket_seconds)
    iv = (
        # empty/inverted intervals match nothing; dropping them here also
        # keeps F.sequence from generating a DESCENDING bucket range (a
        # dirty end<start row would otherwise explode into thousands of
        # bucket rows that all die in the residual filter)
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn("__bucket", F.explode(F.sequence(i_start, i_end)))
    )
    pt = points.withColumn("__bucket", p_bucket)
    return (
        pt.join(iv, on=keys + ["__bucket"])
        .filter(
            (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
        )
        .drop("__bucket")
    )
