"""Hierarchy flattening — (node, root, depth) over a parent-pointer
table, the org-chart/BOM staple SQL expresses with a recursive CTE and
Spark has no operator for (reference: none — §2-beyond surface like the
graph/spatial modules).

Two formulations over the same ``(node, parent)`` input (roots carry a
SELF-LOOP, ``parent == node``):

- ``flatten_pointer_doubling`` — parallel list ranking: each round the
  state self-joins on ``anc = node`` so every row's ancestor pointer
  jumps 2^r edges; ceil(log2(max_depth)) rounds resolve everything.
- ``flatten_per_level`` — the naive baseline: chase ONE parent edge
  per round, ``max_depth`` joins. Exists so probes can measure what
  the log2 trick actually buys.

THE PLAN-DOUBLING TRAP (why ``checkpoint`` exists): Spark has no
common-subexpression reuse across a self-join, so joining round r's
state with itself evaluates that state TWICE — unmaterialized, the
logical plan doubles every round (2^rounds scan leaves) and the "R
shuffles" claim silently becomes 2^R joins of recomputed lineage.
``checkpoint=True`` cuts lineage per round via eager
``localCheckpoint``, making each round exactly one self-join of a
MATERIALIZED table — the shape the 100 TB claim is about, measured in
BASELINE §5j. Default False: at dimension
scale (the q164 catalog instance) the 2^4-leaf plan is cheaper than 4
materialization jobs, and ``localCheckpoint`` pins executor memory/disk
that small plans never earn back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assert_closed(parents: DataFrame) -> None:
    """Raise when any parent pointer DANGLES (a ``parent`` id with no
    ``node`` row). The flatten/closure self-joins are INNER: a node
    whose ancestor chain hits a dangling pointer silently vanishes
    from the output — a corrupt forest returns fewer rows with no
    signal. This check is one anti-join count job, so it is opt-in
    (``validate=True`` on the operators) rather than paid on every
    plan build; run it once per ingested hierarchy."""
    dangling = (
        parents.filter(F.col("node") != F.col("parent"))
        .select(F.col("parent").alias("__p"))
        .distinct()
        .join(
            parents.select(F.col("node").alias("__p")).distinct(), "__p", "left_anti"
        )
    )
    n = dangling.count()
    if n:
        sample = [r["__p"] for r in dangling.limit(5).collect()]
        raise ValueError(
            f"hierarchy: {n} dangling parent pointer(s) (no matching node row), "
            f"e.g. {sample}; nodes on those chains would silently drop from the "
            "flatten/closure output. Fix the forest (roots must self-loop)."
        )


def _initial_state(parents: DataFrame) -> DataFrame:
    return parents.select(
        "node",
        F.col("parent").alias("anc"),
        F.when(F.col("node") == F.col("parent"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("dist"),
    )


def flatten_pointer_doubling(
    parents: DataFrame, rounds: int, checkpoint: bool = False, validate: bool = False
) -> DataFrame:
    """(node, root, depth) in ``rounds`` self-joins; resolves any node
    of depth <= 2**rounds. Roots' self-loops make the jump idempotent
    once resolved, so over-provisioned rounds are harmless (each costs
    one more join of already-stable state). Nodes whose chain hits a
    DANGLING parent pointer drop from the output (inner self-join) —
    pass ``validate=True`` (or call ``assert_closed`` once at ingest)
    to fail loudly on a malformed forest instead."""
    if validate:
        assert_closed(parents)
    state = _initial_state(parents)
    for _ in range(rounds):
        if checkpoint:
            state = state.localCheckpoint(eager=True)
        jump = state.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("dist").alias("dist2"),
        )
        state = state.join(jump, "anc").select(
            "node",
            F.col("anc2").alias("anc"),
            (F.col("dist") + F.col("dist2")).alias("dist"),
        )
    return state.select(
        "node", F.col("anc").alias("root"), F.col("dist").alias("depth")
    )


def flatten_per_level(
    parents: DataFrame, max_depth: int, validate: bool = False
) -> DataFrame:
    """The depth-many-joins baseline: each round advances every
    unresolved pointer ONE edge via a join against the parent table.
    Linear plan growth (the hop side is a fixed frame), ``max_depth``
    shuffle joins — the shape pointer doubling exists to beat. Same
    dangling-pointer drop contract as flatten_pointer_doubling
    (``validate=True`` to fail loudly)."""
    if validate:
        assert_closed(parents)
    state = _initial_state(parents)
    hop = parents.select(F.col("node").alias("anc"), F.col("parent").alias("anc2"))
    for _ in range(max_depth):
        state = state.join(hop, "anc").select(
            "node",
            F.col("anc2").alias("anc"),
            F.when(F.col("anc") == F.col("anc2"), F.col("dist"))
            .otherwise(F.col("dist") + 1)
            .alias("dist"),
        )
    return state.select(
        "node", F.col("anc").alias("root"), F.col("dist").alias("depth")
    )


def ancestor_closure(
    parents: DataFrame, rounds: int, checkpoint: bool = False, validate: bool = False
) -> DataFrame:
    """FULL transitive closure (node, anc, dist) of a parent-pointer
    forest — every (node, ancestor) pair including (node, node, 0),
    excluding anything above a root (self-loops contribute no edge).
    Where ``flatten_pointer_doubling`` keeps only each node's FURTHEST
    resolved ancestor, the closure keeps every intermediate pair — the
    input shape for subtree aggregation (BOM cost rollups, org-chart
    headcounts: group the closure by ``anc`` and aggregate node
    payloads).

    Closure-by-doubling with the EXACT-DECOMPOSITION pivot (r14):
    round r composes C_r (all pairs, dist <= 2**r) with ONLY the pairs
    at dist == 2**r, restricting the left side to dist >= 1 — every
    pair at dist in (2**r, 2**(r+1)] has exactly one such split
    (d = d1 + 2**r with the intermediate vertex unique because tree
    paths are unique), and no pair at dist <= 2**r is re-derived, so
    the union is DISJOINT and the per-round ``distinct`` the r10 form
    needed — a full shuffle + hash-dedup of the whole accumulated
    closure, 4x per call — disappears outright (guide §2.4).
    ``rounds`` rounds still cover distances up to 2**rounds —
    ceil(log2(depth)) SELF-joins instead of depth-many edge joins.
    Output size is O(N x avg depth) — the price of closure vs flatten,
    paid by any formulation of subtree rollup. Same plan-doubling
    caveat as the module doc (``checkpoint=True`` for real scale) and
    the same dangling-pointer drop contract (``validate=True`` to fail
    loudly).
    """
    if validate:
        assert_closed(parents)
    edges = parents.filter(F.col("node") != F.col("parent")).select(
        "node", F.col("parent").alias("anc"), F.lit(1).cast("long").alias("dist")
    )
    self_rows = parents.select(
        "node", F.col("node").alias("anc"), F.lit(0).cast("long").alias("dist")
    )
    clo = self_rows.unionByName(edges)
    for r in range(rounds):
        if checkpoint:
            clo = clo.localCheckpoint(eager=True)
        hop = clo.filter(F.col("dist") == F.lit(2 ** r)).select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("dist").alias("dist2"),
        )
        composed = clo.filter(F.col("dist") > 0).join(hop, "anc").select(
            "node",
            F.col("anc2").alias("anc"),
            (F.col("dist") + F.col("dist2")).alias("dist"),
        )
        clo = clo.unionByName(composed)
    return clo
