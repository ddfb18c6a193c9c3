"""Query catalog part 14 (q201+): deterministic synchronous label
propagation — community detection on the canonical co-purchase graph,
the one classic graph-mining shape the q79/q149/q169/q188 family did
not yet cover (components min-flood to one label per component;
frequency adoption lets dense regions hold their own label against a
sparse bridge, which is what "community" means).

Reference parity: beyond the reference in SURVEY §2's sense, like the
rest of the graph layer — the reference's analytics stop at per-group
summaries (``batch_process/analyze.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_spark.operators.caching import memoized_persist
from batch_process_spark.queries import _q, _t
from batch_process_spark.queries_ext12 import _SSSP_CAP

# ---------------------------------------------------------------------------
# q201: communities on the co-purchase graph by deterministic sync LPA
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """The supersteps unrolled: rounds generated programmatically so
    the SQL and the Spark loop share one round count by construction
    (the q188 discipline). Each round is the literal restatement of
    the operator's semantics: count neighbour labels, keep the most
    frequent, break ties on the smallest label. MATERIALIZED keeps the
    expansion linear in rounds (each stage references only its
    predecessor, but DuckDB would still inline the chain)."""
    stages = []
    prev = "l0"
    for i in range(_LPA_ROUNDS):
        stages.append(
            f"c{i} AS MATERIALIZED ("
            f"SELECT e.u AS node, l.lab, count(*) AS c "
            f"FROM e0 e JOIN {prev} l ON e.v = l.node GROUP BY e.u, l.lab)"
        )
        stages.append(
            f"l{i + 1} AS MATERIALIZED ("
            f"SELECT node, min(lab) AS lab FROM ("
            f"SELECT node, lab, c, max(c) OVER (PARTITION BY node) AS mc "
            f"FROM c{i}) WHERE c = mc GROUP BY node)"
        )
        prev = f"l{i + 1}"
    joined = ",\n    ".join(stages)
    return f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey <= {_SSSP_CAP}
    ),
    ec AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
    ),
    e0 AS MATERIALIZED (SELECT u, v FROM ec UNION ALL SELECT v, u FROM ec),
    l0 AS MATERIALIZED (SELECT u AS node, u AS lab FROM e0 GROUP BY u),
    {joined}
    SELECT node AS l_partkey, CAST(lab AS BIGINT) AS community
    FROM {prev}
    """


@_q("q201_label_propagation", _lpa_oracle())
def q201_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities on the part co-purchase graph by {rounds} rounds of
    deterministic synchronous label propagation
    (`operators/graph.py::label_propagation`): every node adopts its
    neighbours' most frequent label, ties to the smallest — the
    reproducible variant of classic LPA, whose random tie-breaks no
    oracle could restate. Exactly {rounds} supersteps, unrolled in the
    oracle as {rounds} generated SQL stage pairs from the same
    constant, so the round counts cannot drift (the q188 discipline).
    Shares q151's bounded subgraph cap and the canonical symmetric
    edge set (`copurchase_edges`), so the graph cannot drift from the
    BFS/triangle/k-core family. Per round: one shuffle-hash
    state><edges join at edge granularity, one partial-agg
    (node, label) count, one codegen max(struct) argmax — no window,
    no object aggregate."""
    from batch_process_spark.operators.graph import (
        copurchase_edges,
        label_propagation,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= _SSSP_CAP)
    canon = copurchase_edges(li, "l_orderkey", "l_partkey")
    edges = memoized_persist(
        canon.unionByName(canon.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    return label_propagation(edges, rounds=_LPA_ROUNDS).select(
        F.col("node").alias("l_partkey"), "community"
    )


q201_label_propagation.__doc__ = q201_label_propagation.__doc__.format(
    rounds=_LPA_ROUNDS
)
